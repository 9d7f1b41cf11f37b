"""ES Query-DSL compiler: JSON bodies compile to the existing AST and
execute identically to their query-string equivalents (both executors),
with the documented subset errors."""

import pytest

from bitfunnel_spark.plans import dsl
from bitfunnel_spark.plans.ast import And, Boost, Filter, Not, Or, Phrase, Prefix, Term
from bitfunnel_spark.plans.dsl import DslError, compile_dsl, search_dsl
from bitfunnel_spark.plans.parser import parse_query
from tests.conftest import reference_match, reference_search


def test_compile_shapes():
    assert compile_dsl({"match": {"content": "data"}}) == Term("data")
    assert compile_dsl({"match": {"content": "Fast Data"}}) == Or(
        (Term("fast"), Term("data"))
    )
    assert compile_dsl(
        {"match": {"content": {"query": "fast data", "operator": "and"}}}
    ) == And((Term("fast"), Term("data")))
    assert compile_dsl({"match_phrase": {"content": "batch data"}}) == Phrase(
        ("batch", "data")
    )
    assert compile_dsl(
        {"match_phrase": {"content": {"query": "batch data", "slop": 2}}}
    ) == Phrase(("batch", "data"), slop=2)
    assert compile_dsl({"term": {"lang": "EN"}}) == Term("en", "lang")
    assert compile_dsl({"terms": {"content": ["dup", "vector"]}}) == Or(
        (Term("dup"), Term("vector"))
    )
    assert compile_dsl({"prefix": {"content": "s"}}) == Prefix("s")
    assert compile_dsl({"match": {"content": {"query": "data", "boost": 2}}}) == Boost(
        Term("data"), 2.0
    )
    node = compile_dsl(
        {
            "bool": {
                "must": [{"match": {"content": "data"}}],
                "filter": [{"term": {"lang": "en"}}],
                "must_not": [{"match": {"content": "slow"}}],
            }
        }
    )
    assert node == And((Term("data"), Filter(Term("en", "lang")), Not(Term("slow"))))


def test_bool_should_semantics():
    # should-only bool -> minimum_should_match defaults to 1 (plain OR)
    assert compile_dsl(
        {"bool": {"should": [{"match": {"content": "dup"}}, {"match": {"content": "vector"}}]}}
    ) == Or((Term("dup"), Term("vector")))
    # msm > 1
    n = compile_dsl(
        {
            "bool": {
                "should": [
                    {"match": {"content": "dup"}},
                    {"match": {"content": "vector"}},
                    {"match": {"content": "data"}},
                ],
                "minimum_should_match": 2,
            }
        }
    )
    assert isinstance(n, Or) and n.min_match == 2
    # should alongside must without msm is the documented unsupported case
    with pytest.raises(DslError):
        compile_dsl(
            {
                "bool": {
                    "must": [{"match": {"content": "data"}}],
                    "should": [{"match": {"content": "dup"}}],
                }
            }
        )


@pytest.mark.parametrize(
    "body,qs",
    [
        ({"match": {"content": {"query": "fast data", "operator": "and"}}}, "fast & data"),
        ({"match": {"content": "dup vector"}}, "dup | vector"),
        ({"match_phrase": {"content": {"query": "batch data", "slop": 2}}}, '"batch data"~2'),
        (
            {
                "bool": {
                    "must": [{"match": {"content": "data"}}],
                    "must_not": [{"match": {"content": "slow"}}],
                }
            },
            "data -slow",
        ),
        (
            {
                "bool": {
                    "must": [{"match": {"content": "data"}}],
                    "filter": [{"term": {"lang": "en"}}],
                }
            },
            "data #lang:en",
        ),
        (
            {
                "bool": {
                    "should": [
                        {"match": {"content": "dup"}},
                        {"match": {"content": "vector"}},
                        {"match": {"content": "data"}},
                    ],
                    "minimum_should_match": 2,
                }
            },
            "(dup | vector | data)@2",
        ),
    ],
)
def test_dsl_equals_query_string(index, body, qs):
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_dsl(index, {"query": body, "size": 10}).collect()
    ]
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in index.search(qs, k=10, mode="kernel").collect()
    ]
    assert got == want and got


def test_dsl_compile_matches_parser_ast():
    assert compile_dsl({"query_string": {"query": "data -slow"}}) == parse_query("data -slow")


def test_dsl_errors():
    for bad in [
        {"match": {"content": "data", "path": "x"}},  # two fields
        {"match": {"nosuchfield": "x"}},
        {"match": {"content": "!!!"}},  # zero tokens
        {"term": {"content": "two tokens"}},
        {"knn": {"field": "v"}},  # unsupported kind
        {"bool": {"boost_mode": "sum"}},  # unknown bool key
        {"bool": {}},
        {"match": {"content": {"query": "a b", "boost": 2}}},  # boost on multi
    ]:
        with pytest.raises(DslError):
            compile_dsl(bad)


def test_search_dsl_bare_query(index):
    assert search_dsl(index, {"match": {"content": "data"}}, k=3).count() == 3


def test_combined_fields(index):
    node = compile_dsl(
        {"combined_fields": {"query": "data txt", "fields": ["content", "path^0.4"]}}
    )
    got = [(r["doc_id"], round(r["score"], 6)) for r in index.search(node, k=5, mode="kernel").collect()]
    from bitfunnel_spark.plans.expand import combined_fields

    want_node = combined_fields("data txt", {"body": 1.0, "path": 0.4})
    want = [(r["doc_id"], round(r["score"], 6)) for r in index.search(want_node, k=5, mode="kernel").collect()]
    assert got == want and got


def test_module_has_no_toplevel_spark_imports():
    # the compiler is pure Python at import time — usable to pre-compile
    # query logs without a JVM (search_dsl's fetch join imports lazily)
    import inspect

    for line in inspect.getsource(dsl).splitlines():
        if line.startswith(("import ", "from ")):
            assert "pyspark" not in line, line


def test_dsl_expansion_in_bool(index):
    # dictionary-expansion clauses inside bool run through prepare_query
    body = {
        "bool": {
            "must": [{"match": {"content": "data"}}],
            "should": [{"prefix": {"content": "s"}}],
            "minimum_should_match": 1,
        }
    }
    got = [(r["doc_id"], round(r["score"], 6)) for r in search_dsl(index, body, k=8).collect()]
    want = [(r["doc_id"], round(r["score"], 6)) for r in index.search("data (s*)", k=8, mode="kernel").collect()]
    assert got == want and got


# --- aggregations DSL ---

from bitfunnel_spark.plans import serving  # noqa: E402
from bitfunnel_spark.plans.dsl import run_aggs  # noqa: E402

_Q = {"match": {"content": "data"}}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_aggs_terms(index):
    got = run_aggs(index, {"query": _Q, "aggs": {"by_lang": {"terms": {"field": "lang"}}}})
    assert _rows(got) == _rows(serving.facet_counts(index, Term("data"), facets=("lang",)))


def test_aggs_terms_stats(index):
    body = {
        "query": _Q,
        "aggs": {"by_lang": {"terms": {"field": "lang"},
                             "aggs": {"dl": {"stats": {"field": "doclen"}}}}},
    }
    assert _rows(run_aggs(index, body)) == _rows(
        serving.facet_stats(index, Term("data"), by="lang")
    )


def test_aggs_terms_cardinality_and_tophits(index):
    body = {
        "query": _Q,
        "aggs": {"b": {"terms": {"field": "lang"},
                       "aggs": {"c": {"cardinality": {"field": "repo"}}}}},
    }
    assert _rows(run_aggs(index, body)) == _rows(
        serving.facet_cardinality(index, Term("data"), by="lang", of="repo")
    )
    body2 = {
        "query": _Q,
        "aggs": {"b": {"terms": {"field": "lang"},
                       "aggs": {"h": {"top_hits": {"size": 2}}}}},
    }
    assert _rows(run_aggs(index, body2)) == _rows(
        serving.top_hits(index, Term("data"), by="lang", per_group=2)
    )


def test_aggs_histogram_extended_range(index):
    q = Term("data")
    body = {"query": _Q, "aggs": {"h": {"histogram": {"field": "doclen", "interval": 64}}}}
    assert _rows(run_aggs(index, body)) == _rows(serving.histogram(index, q, interval=64))
    body = {"query": _Q, "aggs": {"e": {"extended_stats": {"field": "doclen"}}}}
    assert _rows(run_aggs(index, body)) == _rows(serving.extended_stats(index, q))
    body = {
        "query": _Q,
        "aggs": {"r": {"range": {"field": "doclen",
                                 "ranges": [{"to": 24}, {"from": 24, "to": 96}, {"from": 96}]}}},
    }
    assert _rows(run_aggs(index, body)) == _rows(
        serving.facet_ranges(index, q, edges=(0, 24, 96))
    )


def test_aggs_filters(index):
    body = {
        "aggs": {"f": {"filters": {"filters": {
            "a": {"match": {"content": {"query": "data fast", "operator": "and"}}},
            "b": {"match_phrase": {"content": "batch batch"}},
        }}}},
    }
    got = {r["name"]: r["n_docs"] for r in run_aggs(index, body).collect()}
    assert got["a"] == reference_match(index, "data & fast").count()
    assert got["b"] == reference_match(index, '"batch batch"').count()


def test_aggs_errors(index):
    for bad in [
        {"aggs": {"a": {"terms": {"field": "lang"}}, "b": {"terms": {"field": "repo"}}}},
        {"query": _Q, "aggs": {"a": {"date_histogram": {"field": "ts"}}}},
        {"query": _Q, "aggs": {"a": {"terms": {"field": "doclen"}}}},
        {"query": _Q, "aggs": {"a": {"histogram": {"field": "n_chars"}}}},
        {"aggs": {"a": {"terms": {"field": "lang"}}}},  # bucket agg without query
    ]:
        with pytest.raises(DslError):
            run_aggs(index, bad)


def test_source_fetching(index):
    body = {"query": {"match": {"content": "data"}}, "size": 5,
            "_source": ["path", "lang"]}
    rows = search_dsl(index, body).collect()
    assert len(rows) == 5
    assert set(rows[0].asDict()) == {"doc_id", "score", "path", "lang"}
    # same ranking as the plain search
    plain = search_dsl(index, {"query": {"match": {"content": "data"}}, "size": 5})
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in plain.collect()]
    # the k-row side broadcasts
    plan = search_dsl(index, body)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"match": {"content": "data"}}, "_source": ["nope"]})


# --- tandem fuzz: random DSL trees with their query-string twins ---

import random as _random


def _gen_pair(rng, depth=0):
    """Return (dsl_body, equivalent_query_string_fragment)."""
    vocab = ["data", "fast", "dup", "vector", "key", "table", "row", "scan"]
    roll = rng.random()
    if depth >= 2 or roll < 0.45:
        t = rng.choice(vocab)
        kind = rng.randrange(3)
        if kind == 0:
            return {"match": {"content": t}}, t
        if kind == 1:
            t2 = rng.choice([w for w in vocab if w != t])
            return (
                {"match": {"content": {"query": f"{t} {t2}", "operator": "and"}}},
                f"({t} & {t2})",
            )
        t2 = rng.choice([w for w in vocab if w != t])
        slop = rng.randrange(3)
        if slop:
            return (
                {"match_phrase": {"content": {"query": f"{t} {t2}", "slop": slop}}},
                f'"{t} {t2}"~{slop}',
            )
        return {"match_phrase": {"content": f"{t} {t2}"}}, f'"{t} {t2}"'
    if roll < 0.75:
        n = rng.randrange(2, 4)
        pairs = [_gen_pair(rng, depth + 1) for _ in range(n)]
        msm = rng.choice([1, 1, min(2, n)])
        body = {"bool": {"should": [b for b, _ in pairs], "minimum_should_match": msm}}
        qs = "(" + " | ".join(q for _, q in pairs) + ")"
        return body, (qs if msm == 1 else f"{qs}@{msm}")
    musts = [_gen_pair(rng, depth + 1) for _ in range(rng.randrange(1, 3))]
    nots = [_gen_pair(rng, depth + 1) for _ in range(rng.randrange(0, 2))]
    body = {
        "bool": {
            "must": [b for b, _ in musts],
            "must_not": [b for b, _ in nots],
        }
    }
    qs = "(" + " & ".join(q for _, q in musts)
    for _, q in nots:
        qs += f" -{q}"
    return body, qs + ")"


def test_dsl_fuzz_ast_equivalence():
    rng = _random.Random(20260818)
    for i in range(300):
        body, qs = _gen_pair(rng)
        got = compile_dsl(body)
        want = parse_query(qs)
        assert got == want, (i, body, qs, got, want)


def test_dsl_fuzz_execution_sample(index):
    rng = _random.Random(42)
    for _ in range(6):
        body, qs = _gen_pair(rng)
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_dsl(index, {"query": body, "size": 8}).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 6))
            for r in index.search(qs, k=8, mode="kernel").collect()
        ]
        assert got == want, (body, qs)


# ---------------------------------------------------------------------------
# serving-combinator query kinds (multi_match / dis_max / boosting)

def test_dsl_dis_max_matches_serving(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"dis_max": {
        "queries": [{"query_string": "data -slow"},
                    {"match": {"content": "dup vector"}}],
        "tie_breaker": 0.3,
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.dis_max(
        index, ["data -slow", "(dup | vector)"], tie_breaker=0.3, k=10
    ).collect()]
    assert got == want and got


def test_dsl_multi_match_matches_serving(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"multi_match": {
        "query": "data txt", "fields": ["content", "path^2"],
        "type": "best_fields", "tie_breaker": 0.3,
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.multi_match(
        index, "data txt", ["body", "path^2"],
        mm_type="best_fields", tie_breaker=0.3, k=10,
    ).collect()]
    assert got == want and got


def test_dsl_boosting_matches_serving(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"boosting": {
        "positive": {"query_string": "data fast"},
        "negative": {"match": {"content": "slow"}},
        "negative_boost": 0.4,
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.boosting_query(
        index, "data fast", "slow", negative_boost=0.4, k=10
    ).collect()]
    assert got == want and got


def test_dsl_combinator_errors(index):
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    with pytest.raises(DslError, match="needs queries"):
        search_dsl(index, {"query": {"dis_max": {"tie_breaker": 0.3}}})
    with pytest.raises(DslError, match="support query_string/match"):
        search_dsl(index, {"query": {"dis_max": {"queries": [
            {"terms": {"lang": ["en"]}}]}}})
    with pytest.raises(DslError, match="positive and negative"):
        search_dsl(index, {"query": {"boosting": {"positive": {"match": {"content": "a"}}}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"multi_match": {"query": "x", "fields": ["nosuch"]}}})


def test_dsl_function_score_matches_serving(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"function_score": {
        "query": {"query_string": "data fast"},
        "field_value_factor": {"field": "doclen", "modifier": "log1p", "factor": 2.0},
        "boost_mode": "sum",
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.function_score(
        index, "data fast", field="doclen", modifier="log1p",
        factor=2.0, boost_mode="sum", k=10,
    ).collect()]
    assert got == want and got


def test_dsl_span_family_matches_serving(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    st = lambda t: {"span_term": {"content": t}}  # noqa: E731
    near = {"query": {"span_near": {
        "clauses": [st("data"), st("fast")], "slop": 3, "in_order": False,
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, near).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.span_near(
        index, ["data", "fast"], slop=3, k=10
    ).collect()]
    assert got == want and got

    first = {"query": {"span_first": {"match": st("data"), "end": 8}}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, first).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.span_first(
        index, "data", "data", 8, k=10
    ).collect()]
    assert got == want and got

    notq = {"query": {"span_not": {
        "include": st("data"), "exclude": st("slow"), "pre": 1, "post": 1,
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, notq).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.span_not(
        index, ["data"], "slow", pre=1, post=1, k=10
    ).collect()]
    assert got == want and got


def test_dsl_span_near_ordered_is_sloppy_phrase(index):
    from bitfunnel_spark.plans.ast import Phrase
    from bitfunnel_spark.plans.dsl import search_dsl

    st = lambda t: {"span_term": {"content": t}}  # noqa: E731
    body = {"query": {"span_near": {
        "clauses": [st("data"), st("fast")], "slop": 2, "in_order": True,
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            index.search(Phrase(("data", "fast"), slop=2), k=10).collect()]
    assert got == want


def test_dsl_span_errors(index):
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    st = lambda t: {"span_term": {"content": t}}  # noqa: E731
    with pytest.raises(DslError, match="span_term"):
        search_dsl(index, {"query": {"span_near": {
            "clauses": [{"match": {"content": "x"}}]}}})
    with pytest.raises(DslError, match="body-field only"):
        search_dsl(index, {"query": {"span_first": {
            "match": {"span_term": {"lang": "en"}}, "end": 2}}})
    with pytest.raises(DslError, match="one token"):
        search_dsl(index, {"query": {"span_first": {
            "match": {"span_term": {"content": "two words"}}, "end": 2}}})
    with pytest.raises(DslError, match="adjacent in-order"):
        search_dsl(index, {"query": {"span_not": {
            "include": {"span_near": {"clauses": [st("a"), st("b")], "slop": 2}},
            "exclude": st("c")}}})


def test_dsl_sort_matches_serving(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"match": {"content": "data"}},
            "sort": [{"doclen": {"order": "asc"}}], "size": 10}
    got = [(r["doc_id"], r["doclen"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["doclen"]) for r in serving.sort_hits(
        index, "data", by="doclen", ascending=True, k=10
    ).collect()]
    assert got == want and got
    # bare-string clause defaults to desc
    body2 = {"query": {"match": {"content": "data"}}, "sort": "doclen", "size": 5}
    got2 = [r["doclen"] for r in search_dsl(index, body2).collect()]
    assert got2 == sorted(got2, reverse=True) and len(got2) == 5


def test_dsl_sort_with_source(index):
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"match": {"content": "data"}},
            "sort": [{"doclen": "asc"}], "_source": ["lang"], "size": 5}
    rows = search_dsl(index, body).collect()
    assert rows and rows[0].asDict().keys() >= {"doc_id", "doclen", "lang"}
    assert [r["doclen"] for r in rows] == sorted(r["doclen"] for r in rows)


def test_dsl_highlight_matches_snippets(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"query_string": "data fast"},
            "highlight": {"fields": {"content": {}}}, "size": 10}
    got = [(r["doc_id"], r["score"], r["snippet"])
           for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"], r["snippet"])
            for r in serving.snippets(index, "data fast", k=10).collect()]
    assert got == want and got


def test_dsl_sort_highlight_errors(index):
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    q = {"match": {"content": "data"}}
    with pytest.raises(DslError, match="pick one"):
        search_dsl(index, {"query": q, "sort": "doclen",
                           "highlight": {"fields": {"content": {}}}})
    with pytest.raises(DslError, match="exactly one clause"):
        search_dsl(index, {"query": q, "sort": ["doclen", "lang"]})
    with pytest.raises(DslError, match="doclen/lang/repo/path"):
        search_dsl(index, {"query": q, "sort": "nosuch"})
    with pytest.raises(DslError, match="drop `sort`"):
        search_dsl(index, {"query": q, "sort": "_score"})
    with pytest.raises(DslError, match="combinator"):
        search_dsl(index, {"query": {"dis_max": {"queries": [
            {"query_string": "data"}]}}, "sort": "doclen"})
    with pytest.raises(DslError, match="content field"):
        search_dsl(index, {"query": q, "highlight": {"fields": {"lang": {}}}})


def test_dsl_more_like_this(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    body = {"query": {"more_like_this": {
        "like": [{"_id": 7}], "max_query_terms": 8,
    }}, "size": 10}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            serving.more_like_this(index, 7, k=10, m=8).collect()]
    assert got == want and got
    with pytest.raises(DslError, match="_id"):
        search_dsl(index, {"query": {"more_like_this": {"like": ["free text"]}}})


def test_dsl_suggest(index):
    from bitfunnel_spark.plans import expand
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    term_body = {"suggest": {"fix": {"text": "dada", "term": {"field": "content"}}}}
    got = [tuple(r) for r in search_dsl(index, term_body).collect()]
    want = [tuple(r) for r in expand.did_you_mean(index, "dada", k=10).collect()]
    assert got == want and got

    comp_body = {"suggest": {"s": {"prefix": "dat", "completion": {"field": "content"}}},
                 "size": 5}
    got = [tuple(r) for r in search_dsl(index, comp_body).collect()]
    want = [tuple(r) for r in expand.suggest(index, "dat", k=5).collect()]
    assert got == want and got

    with pytest.raises(DslError, match="no query alongside"):
        search_dsl(index, {"query": {"match": {"content": "x"}},
                           "suggest": {"s": {"text": "x", "term": {}}}})
    with pytest.raises(DslError, match="body-field only"):
        search_dsl(index, {"suggest": {"s": {"text": "en", "term": {"field": "lang"}}}})


def test_dsl_compile_bodies_percolate_parity(index, spark):
    from bitfunnel_spark.plans.dsl import DslError, compile_bodies

    bodies = [
        {"query": {"bool": {"must": [{"match": {"content": "data"}}],
                            "must_not": [{"match": {"content": "slow"}}]}}},
        {"query": {"match": {"content": {"query": "spark join", "operator": "and"}}}},
        {"terms": {"content": ["dup", "vector"]}},  # bare query object form
    ]
    nodes = compile_bodies(bodies)
    strings = ["data -slow", "spark & join", "dup | vector"]
    got = {(r["query_id"], r["doc_id"]) for r in index.search_many(nodes, k=1000).collect()}
    want = {(r["query_id"], r["doc_id"]) for r in index.search_many(strings, k=1000).collect()}
    assert got == want and got
    with pytest.raises(DslError, match="one AST node"):
        compile_bodies([{"query": {"dis_max": {"queries": [{"query_string": "x"}]}}}])


def test_dsl_msearch_one_job_parity(index):
    from bitfunnel_spark.plans.dsl import DslError, msearch

    bodies = [
        {"query": {"match": {"content": "data fast"}}},
        {"query": {"bool": {"must": [{"match": {"content": "data"}}],
                            "must_not": [{"match": {"content": "slow"}}]}}},
    ]
    got = {(r["query_id"], r["doc_id"], r["score"])
           for r in msearch(index, bodies, k=10).collect()}
    want = {(qid, r["doc_id"], r["score"])
            for qid, q in enumerate(["data | fast", "data -slow"])
            for r in index.search(q, k=10).collect()}
    # body 0 is match-or: data | fast
    assert got == want and got
    with pytest.raises(DslError, match="non-empty"):
        msearch(index, [])


def test_dsl_msearch_per_body_sizes(index):
    from bitfunnel_spark.plans.dsl import msearch

    bodies = [
        {"query": {"match": {"content": "data"}}, "size": 3},
        {"query": {"match": {"content": "dup"}}, "size": 7},
    ]
    rows = msearch(index, bodies, k=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    # each body trimmed to ITS size, values identical to single-query search
    assert len(by_q[0]) == 3 and len(by_q[1]) == 7
    for qid, q, size in [(0, "data", 3), (1, "dup", 7)]:
        want = [(r["doc_id"], r["score"]) for r in index.search(q, k=size).collect()]
        assert sorted(by_q[qid]) == sorted(want), qid


# ---------------------------------------------------------------------------
# terms_set / match_bool_prefix / filter-only kinds (match_all, ids,
# exists, constant_score)

def test_terms_set_compiles_to_min_match():
    node = compile_dsl({"terms_set": {"content": {
        "terms": ["data", "fast", "slow"], "minimum_should_match": 2}}})
    assert isinstance(node, Or) and node.min_match == 2
    assert {c.text for c in node.children} == {"data", "fast", "slow"}
    # require-all (count == len, or the params.num_terms script) is an AND
    node = compile_dsl({"terms_set": {"content": {
        "terms": ["data", "fast"], "minimum_should_match": 2}}})
    assert isinstance(node, And)
    node2 = compile_dsl({"terms_set": {"content": {
        "terms": ["data", "fast"],
        "minimum_should_match_script": {"source": "params.num_terms"}}}})
    assert node2 == node


def test_terms_set_execution_matches_min_match_search(index):
    got = search_dsl(index, {"query": {"terms_set": {"content": {
        "terms": ["data", "fast", "slow"], "minimum_should_match": 2}}},
        "size": 10}).collect()
    want = index.search(
        Or((Term("data"), Term("fast"), Term("slow")), min_match=2), k=10
    ).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want]
    assert len(got) == 10


def test_terms_set_errors():
    with pytest.raises(DslError):  # no msm at all
        compile_dsl({"terms_set": {"content": {"terms": ["a", "b"]}}})
    with pytest.raises(DslError):  # msm out of range
        compile_dsl({"terms_set": {"content": {
            "terms": ["a", "b"], "minimum_should_match": 3}}})
    with pytest.raises(DslError):  # unsupported script
        compile_dsl({"terms_set": {"content": {
            "terms": ["a", "b"],
            "minimum_should_match_script": {"source": "params.n - 1"}}}})
    with pytest.raises(DslError):  # both count and script
        compile_dsl({"terms_set": {"content": {
            "terms": ["a", "b"], "minimum_should_match": 1,
            "minimum_should_match_script": {"source": "params.num_terms"}}}})


def test_match_bool_prefix_shape_and_parity(index):
    node = compile_dsl({"match_bool_prefix": {"content": "fast ke"}})
    assert node == parse_query("fast | ke*")
    node = compile_dsl({"match_bool_prefix": {"content": {
        "query": "fast ke", "operator": "and"}}})
    assert node == parse_query("fast ke*")
    # single token -> bare prefix
    assert compile_dsl({"match_bool_prefix": {"content": "ke"}}) == \
        parse_query("ke*")
    got = search_dsl(index, {"query": {"match_bool_prefix": {
        "content": "fast ke"}}, "size": 5}).collect()
    want = index.search("fast | ke*", k=5).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want]


def test_ids_query(index):
    rows = search_dsl(index, {"query": {"ids": {"values": [3, 1, 10**9]}},
                              "size": 10}).collect()
    # unknown ids dropped (ES semantics); doc_id order; constant score 1.0
    assert [(r.doc_id, r.score) for r in rows] == [(1, 1.0), (3, 1.0)]


def test_match_all_and_exists(index, corpus):
    rows = search_dsl(index, {"query": {"match_all": {}}, "size": 5}).collect()
    first5 = [r.doc_id for r in
              corpus.select("doc_id").orderBy("doc_id").limit(5).collect()]
    assert [r.doc_id for r in rows] == first5
    assert all(r.score == 1.0 for r in rows)
    boosted = search_dsl(index, {"query": {"match_all": {"boost": 2.5}},
                                 "size": 3}).collect()
    assert all(r.score == 2.5 for r in boosted)
    # every corpus doc has a lang -> exists == match_all here
    n_all = corpus.count()
    got = search_dsl(index, {"query": {"exists": {"field": "lang"}},
                             "size": n_all + 10})
    assert got.count() == n_all


def test_constant_score(index):
    rows = search_dsl(index, {"query": {"constant_score": {
        "filter": {"term": {"content": "data"}}, "boost": 1.7}},
        "size": 8}).collect()
    match_ids = sorted(r.doc_id for r in reference_match(index, "data").collect())[:8]
    assert [r.doc_id for r in rows] == match_ids
    assert all(r.score == 1.7 for r in rows)
    # nested filter-only filter inside constant_score
    rows = search_dsl(index, {"query": {"constant_score": {
        "filter": {"ids": {"values": [7, 2]}}}}}).collect()
    assert [(r.doc_id, r.score) for r in rows] == [(2, 1.0), (7, 1.0)]


def test_filter_only_rejections(index):
    with pytest.raises(DslError):  # sort needs an AST query
        search_dsl(index, {"query": {"match_all": {}}, "sort": ["lang"]})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"ids": {"values": []}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"exists": {"field": "nope"}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"match_all": {"bad_opt": 1}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"constant_score": {"boost": 2.0}}})


# ---------------------------------------------------------------------------
# rank_feature / pinned

def test_rank_feature_saturation(index, duck):
    rows = search_dsl(index, {"query": {"rank_feature": {
        "field": "doclen", "saturation": {"pivot": 8.0}, "boost": 2.0}},
        "size": 5}).collect()
    want = duck.execute("""
        WITH dl AS (
          SELECT doc_id, count(*) AS doclen FROM (
            SELECT doc_id, unnest(regexp_extract_all(lower(text),
                   '[a-z0-9_]+')) AS tok
            FROM documents) GROUP BY doc_id)
        SELECT doc_id, round(2.0 * doclen / (doclen + 8.0), 4) AS score
        FROM dl ORDER BY score DESC, doc_id LIMIT 5""").fetchall()
    assert [(r.doc_id, r.score) for r in rows] == want


def test_rank_feature_log_and_sigmoid(index):
    import math

    logs = search_dsl(index, {"query": {"rank_feature": {
        "field": "doclen", "log": {"scaling_factor": 3.0}}}, "size": 3}).collect()
    sats = search_dsl(index, {"query": {"rank_feature": {
        "field": "doclen", "sigmoid": {"pivot": 8.0, "exponent": 2.0}}},
        "size": 3}).collect()
    # both rank by doclen desc — same doc order, different score shape
    assert [r.doc_id for r in logs] == [r.doc_id for r in sats]
    assert all(0 < r.score <= 1.0 for r in sats)
    assert all(r.score > 1.0 for r in logs)  # ln(3 + doclen) > 1 here
    with pytest.raises(DslError):  # saturation without pivot
        search_dsl(index, {"query": {"rank_feature": {
            "field": "doclen", "saturation": {}}}})
    with pytest.raises(DslError):  # two functions
        search_dsl(index, {"query": {"rank_feature": {
            "field": "doclen", "log": {}, "saturation": {"pivot": 1}}}})


def test_pinned_query(index):
    org_body = {"match": {"content": "data"}}
    organic = index.search("data", k=12).collect()
    pins = [organic[5].doc_id, 10**9 + 7, organic[0].doc_id]
    rows = search_dsl(index, {"query": {"pinned": {
        "ids": pins, "organic": org_body}}, "size": 6}).collect()
    # pinned first in GIVEN order (unknown id dropped), then organic
    # excluding pinned
    assert [r.doc_id for r in rows[:2]] == [pins[0], pins[2]]
    assert rows[0].score > rows[1].score > rows[2].score
    rest = [r.doc_id for r in organic if r.doc_id not in (pins[0], pins[2])][:4]
    assert [r.doc_id for r in rows[2:]] == rest
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"pinned": {"ids": [1, 1],
                                                "organic": org_body}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"pinned": {"ids": [1]}}})


# ---------------------------------------------------------------------------
# intervals

def test_intervals_match_maps_onto_span_executors(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.ast import Phrase as _Phrase

    # ordered + bounded == sloppy phrase
    got = search_dsl(index, {"query": {"intervals": {"content": {
        "match": {"query": "fast key", "max_gaps": 2, "ordered": True}}}},
        "size": 5}).collect()
    want = index.search(
        _Phrase(("fast", "key"), "body", slop=2), k=5).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want]
    # unordered + bounded == span_near
    got = search_dsl(index, {"query": {"intervals": {"content": {
        "match": {"query": "fast key", "max_gaps": 1}}}}, "size": 5}).collect()
    want = serving.span_near(index, ["fast", "key"], slop=1, k=5).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want]
    # unlimited gaps (ES default) == conjunction
    got = search_dsl(index, {"query": {"intervals": {"content": {
        "match": {"query": "fast key"}}}}, "size": 5}).collect()
    want = index.search("fast & key", k=5).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want]
    # single token == term
    got = search_dsl(index, {"query": {"intervals": {"content": {
        "match": {"query": "fast"}}}}, "size": 5}).collect()
    want = index.search("fast", k=5).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want]


def test_intervals_all_of_flattens(index):
    from bitfunnel_spark.plans import serving

    got = search_dsl(index, {"query": {"intervals": {"content": {
        "all_of": {"intervals": [{"match": {"query": "fast"}},
                                 {"match": {"query": "key"}}],
                   "max_gaps": 1}}}}, "size": 5}).collect()
    want = serving.span_near(index, ["fast", "key"], slop=1, k=5).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want]


def test_intervals_rejections(index):
    with pytest.raises(DslError):  # any_of unsupported
        search_dsl(index, {"query": {"intervals": {"content": {
            "any_of": {"intervals": [{"match": {"query": "a"}}]}}}}})
    with pytest.raises(DslError):  # ordered + unlimited gaps
        search_dsl(index, {"query": {"intervals": {"content": {
            "match": {"query": "fast key", "ordered": True}}}}})
    with pytest.raises(DslError):  # multi-token all_of sub-interval
        search_dsl(index, {"query": {"intervals": {"content": {
            "all_of": {"intervals": [{"match": {"query": "fast key"}}],
                       "max_gaps": 1}}}}})
    with pytest.raises(DslError):  # non-body field
        search_dsl(index, {"query": {"intervals": {"lang": {
            "match": {"query": "en"}}}}})


def test_script_score(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_script_score_sql

    body = {"query": {"script_score": {
        "query": {"query_string": "data fast"},
        "script": {"source": "_score * doclen / (doclen + params.pivot)",
                   "params": {"pivot": 32}}}}, "size": 8}
    got = search_dsl(index, body).collect()
    want = duck.execute(oracle_script_score_sql(
        "data fast", "_score * doclen / (doclen + params.pivot)",
        params={"pivot": 32}, k=8)).fetchall()
    assert [(r.doc_id, r.score) for r in got] == [tuple(w) for w in want]
    # constant script == constant ordering by doc_id
    rows = search_dsl(index, {"query": {"script_score": {
        "query": {"term": {"content": "data"}},
        "script": "2.5"}}, "size": 4}).collect()
    assert all(r.score == 2.5 for r in rows)
    assert [r.doc_id for r in rows] == sorted(r.doc_id for r in rows)
    with pytest.raises(DslError):  # unsupported painless surface
        search_dsl(index, {"query": {"script_score": {
            "query": {"term": {"content": "data"}},
            "script": "Math.log(_score)"}}})
    with pytest.raises(DslError):  # unknown binding
        search_dsl(index, {"query": {"script_score": {
            "query": {"term": {"content": "data"}},
            "script": "params.nope * 2"}}})


def test_from_size_paging(index):
    full = index.search("data", k=9).collect()
    page2 = search_dsl(index, {"query": {"query_string": "data"},
                               "from": 3, "size": 3}).collect()
    assert [(r.doc_id, r.score) for r in page2] == [
        (r.doc_id, r.score) for r in full[3:6]]
    # from applies to filter-only and sort paths too
    ids_page = search_dsl(index, {"query": {"match_all": {}},
                                  "from": 2, "size": 2}).collect()
    assert [r.doc_id for r in ids_page] == [
        r.doc_id for r in search_dsl(index, {"query": {"match_all": {}},
                                             "size": 4}).collect()[2:4]]
    srt = search_dsl(index, {"query": {"query_string": "data"},
                             "sort": [{"doclen": "desc"}],
                             "from": 1, "size": 2}).collect()
    srt_full = search_dsl(index, {"query": {"query_string": "data"},
                                  "sort": [{"doclen": "desc"}],
                                  "size": 3}).collect()
    assert [r.doc_id for r in srt] == [r.doc_id for r in srt_full[1:3]]
    with pytest.raises(DslError):  # beyond max_result_window
        search_dsl(index, {"query": {"query_string": "data"},
                           "from": 9995, "size": 10})


def test_count_dsl(index, corpus):
    from bitfunnel_spark.plans.dsl import count_dsl

    n = count_dsl(index, {"query": {"query_string": "data -slow"}}).collect()[0]["count"]
    assert n == reference_match(index, "data -slow").count()
    assert count_dsl(index, {"query": {"match_all": {}}}).collect()[0]["count"] == corpus.count()
    assert count_dsl(index, {"query": {"ids": {"values": [1, 2, 10**9]}}}).collect()[0]["count"] == 2
    assert count_dsl(index, {"query": {"constant_score": {
        "filter": {"term": {"content": "data"}}}}}).collect()[0]["count"] == \
        reference_match(index, "data").count()
    with pytest.raises(DslError):
        count_dsl(index, {"query": {"dis_max": {"queries": []}}})


def test_msearch_rejects_from_and_exists_extras(index):
    from bitfunnel_spark.plans.dsl import msearch

    with pytest.raises(DslError):
        msearch(index, [{"query": {"query_string": "data"}, "from": 3}])
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"exists": {"field": "lang", "boost": 2}}})


def test_aggs_adjacency_matrix(index):
    body = {
        "aggs": {"grid": {"adjacency_matrix": {"filters": {
            "k": {"match": {"content": "key"}},
            "s": {"match": {"content": "scan"}},
        }}}},
    }
    named = {"k": Term("key"), "s": Term("scan")}
    assert _rows(run_aggs(index, body)) == _rows(
        serving.adjacency_matrix(index, named)
    )


def test_aggs_composite(index):
    body = {
        "query": _Q,
        "aggs": {"page": {"composite": {
            "size": 4,
            "sources": [
                {"lang": {"terms": {"field": "lang"}}},
                {"repo": {"terms": {"field": "repo"}}},
            ],
        }}},
    }
    assert _rows(run_aggs(index, body)) == _rows(
        serving.composite_agg(index, Term("data"), by=("lang", "repo"), size=4)
    )
    page1 = run_aggs(index, body).collect()
    body_after = {
        "query": _Q,
        "aggs": {"page": {"composite": {
            "size": 4,
            "sources": body["aggs"]["page"]["composite"]["sources"],
            "after": {"lang": page1[-1]["lang"], "repo": page1[-1]["repo"]},
        }}},
    }
    assert _rows(run_aggs(index, body_after)) == _rows(
        serving.composite_agg(
            index, Term("data"), by=("lang", "repo"), size=4,
            after=(page1[-1]["lang"], page1[-1]["repo"]),
        )
    )


def test_aggs_sampler_and_diversified(index):
    body = {
        "query": _Q,
        "aggs": {"s": {"sampler": {"shard_size": 3},
                       "aggs": {"b": {"terms": {"field": "lang"}}}}},
    }
    assert _rows(run_aggs(index, body)) == _rows(
        serving.sampler_agg(index, Term("data"), by="lang", shard_size=3)
    )
    body = {
        "query": _Q,
        "aggs": {"s": {"diversified_sampler":
                           {"shard_size": 3, "field": "repo",
                            "max_docs_per_value": 2},
                       "aggs": {"b": {"terms": {"field": "lang"}}}}},
    }
    assert _rows(run_aggs(index, body)) == _rows(
        serving.diversified_sampler_agg(
            index, Term("data"), by="lang", field="repo",
            shard_size=3, max_docs_per_value=2,
        )
    )


def test_aggs_boxplot(index):
    body = {
        "query": _Q,
        "aggs": {"b": {"terms": {"field": "lang"},
                       "aggs": {"box": {"boxplot": {"field": "doclen"}}}}},
    }
    assert _rows(run_aggs(index, body)) == _rows(
        serving.facet_boxplot(index, Term("data"), by="lang")
    )


def test_aggs_new_kinds_validate(index):
    from bitfunnel_spark.plans.dsl import DslError

    bads = [
        # composite with a non-terms source
        {"query": _Q, "aggs": {"p": {"composite": {
            "sources": [{"x": {"histogram": {"field": "doclen"}}}]}}}},
        # sampler without a sub-agg
        {"query": _Q, "aggs": {"s": {"sampler": {"shard_size": 3}}}},
        # diversified_sampler without a diversity field
        {"query": _Q, "aggs": {"s": {"diversified_sampler": {"shard_size": 3},
                                     "aggs": {"b": {"terms": {"field": "lang"}}}}}},
        # adjacency_matrix with a query
        {"query": _Q, "aggs": {"a": {"adjacency_matrix": {"filters": {
            "k": {"match": {"content": "key"}}}}}}},
        # composite after-key labels mismatch
        {"query": _Q, "aggs": {"p": {"composite": {
            "sources": [{"lang": {"terms": {"field": "lang"}}}],
            "after": {"wrong": "en"}}}}},
    ]
    for bad in bads:
        with pytest.raises(DslError):
            run_aggs(index, bad)


def test_min_score_filters_ranking(index):
    from bitfunnel_spark.plans.dsl import search_dsl

    base = search_dsl(index, {"query": _Q, "size": 10}).collect()
    assert base
    floor = base[len(base) // 2]["score"]
    got = search_dsl(index, {"query": _Q, "size": 10, "min_score": floor}).collect()
    assert got == [r for r in base if r["score"] >= floor]
    # a floor above every score empties the page
    assert search_dsl(
        index, {"query": _Q, "size": 10, "min_score": base[0]["score"] + 1}
    ).count() == 0


def test_min_score_validates(index):
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    with pytest.raises(DslError):
        search_dsl(index, {"query": {"match_all": {}}, "min_score": 1.0})
    with pytest.raises(DslError):
        search_dsl(index, {"query": _Q, "min_score": 1.0,
                           "sort": [{"doclen": "asc"}]})


def test_analyze_text_vs_oracle(spark, duck):
    from bitfunnel_spark.functions.tokenizer import analyze_text
    from bitfunnel_spark.plans.oracle import oracle_analyze_sql

    doc = duck.execute("SELECT text FROM documents WHERE doc_id = 7").fetchone()[0]
    for analyzer in ("standard", "code"):
        got = [
            (r["position"], r["token"])
            for r in analyze_text(spark, doc, analyzer=analyzer).collect()
        ]
        exp = duck.execute(oracle_analyze_sql(7, analyzer=analyzer)).fetchall()
        assert got == [(int(p), t) for p, t in exp]
        assert got == sorted(got)  # positions are the 0..n-1 stream order


def test_analyze_text_code_splits_identifiers(spark):
    from bitfunnel_spark.functions.tokenizer import analyze_text

    toks = [r["token"] for r in analyze_text(spark, "HTTPServer fooBar_baz", analyzer="code").collect()]
    assert "server" in toks and "foo" in toks and "baz" in toks
    std = [r["token"] for r in analyze_text(spark, "HTTPServer fooBar_baz").collect()]
    assert "httpserver" in std


def test_dsl_highlight_tags(index):
    import re

    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    plain = {r["doc_id"]: r["snippet"]
             for r in serving.snippets(index, "data fast", k=10).collect()}
    body = {"query": {"query_string": "data fast"},
            "highlight": {"fields": {"content": {}},
                          "pre_tags": ["<em>"], "post_tags": ["</em>"]},
            "size": 10}
    rows = search_dsl(index, body).collect()
    assert rows
    tagged_any = False
    for r in rows:
        # stripping the tags recovers the plain oracle-verified fragment
        assert re.sub(r"</?em>", "", r["snippet"]) == plain[r["doc_id"]]
        toks = r["snippet"].split(" ")
        for t in toks:
            if t.startswith("<em>"):
                assert t.endswith("</em>")
                assert t[4:-5] in ("data", "fast")
                tagged_any = True
        # every scoring-term occurrence in the fragment is wrapped
        assert "data" not in toks and "fast" not in toks
    assert tagged_any

    # field-level tags win; a lone tag defaults its pair to the em family
    body2 = {"query": {"query_string": "data"},
             "highlight": {"fields": {"content": {"pre_tags": "«"}},
                           "pre_tags": ["IGNORED"]}, "size": 5}
    rows2 = search_dsl(index, body2).collect()
    assert any("«data</em>" in r["snippet"] for r in rows2)
    assert not any("IGNORED" in r["snippet"] for r in rows2)

    # unknown options reject loudly — never silently dropped
    with pytest.raises(DslError, match="unsupported highlight options"):
        search_dsl(index, {"query": {"query_string": "data"},
                           "highlight": {"fields": {"content": {}},
                                         "number_of_fragments": 3}})
    with pytest.raises(DslError, match="per-field highlight options"):
        search_dsl(index, {"query": {"query_string": "data"},
                           "highlight": {"fields": {"content":
                                                    {"fragment_size": 80}}}})
    with pytest.raises(DslError, match="exactly one tag"):
        search_dsl(index, {"query": {"query_string": "data"},
                           "highlight": {"fields": {"content": {}},
                                         "pre_tags": ["<a>", "<b>"]}})
    with pytest.raises(DslError, match="exactly one field"):
        search_dsl(index, {"query": {"query_string": "data"},
                           "highlight": {"fields": {"content": {},
                                                    "body": {}}}})


def test_dsl_rescore_routes_to_serving(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"match": {"content": "data"}},
            "rescore": {"window_size": 20, "query": {
                "rescore_query": {"query_string": "fast | key"},
                "query_weight": 0.7, "rescore_query_weight": 1.2,
                "score_mode": "multiply"}},
            "size": 8}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.rescore(
        index, "data", "fast | key", window_size=20, query_weight=0.7,
        rescore_weight=1.2, score_mode="multiply", k=8).collect()]
    assert got == want and got

    # ES defaults: total mode, weights 1.0, window 100; _source composes
    body2 = {"query": {"match": {"content": "data"}},
             "rescore": {"query": {"rescore_query":
                                   {"match": {"content": "fast"}}}},
             "size": 5, "_source": ["lang"]}
    rows = search_dsl(index, body2).collect()
    want2 = [(r["doc_id"], r["score"]) for r in serving.rescore(
        index, "data", "fast", window_size=100, k=5).collect()]
    assert [(r["doc_id"], r["score"]) for r in rows] == want2
    assert "lang" in rows[0].asDict()


def test_dsl_rescore_composes_with_range_filter(index):
    from bitfunnel_spark.plans.dsl import search_dsl

    body = {"query": {"bool": {
        "must": [{"match": {"content": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}},
        "rescore": {"window_size": 15, "query": {
            "rescore_query": {"match": {"content": "fast"}}}},
        "size": 6}
    got = [(r.doc_id, r.score) for r in search_dsl(index, body).collect()]
    assert got
    # manual mirror: restricted primary window, blended with the
    # restricted rescore arm (total mode, weights 1) — restriction
    # filters docs only, scores stay epoch-frozen
    ok = {r[0] for r in index.doc_stats.filter(
        "doclen between 40 and 200").select("doc_id").collect()}
    prim = [(r.doc_id, r.score) for r in
            reference_search(index, "data", k=10**6).collect()
            if r.doc_id in ok][:15]
    sec = {r.doc_id: r.score for r in
           reference_search(index, "fast", k=10**6).collect()}
    blended = sorted(((round(p + sec.get(d, 0.0), 4), -d) for d, p in prim),
                     reverse=True)
    assert got == [( -nd, s) for s, nd in blended][:6]


def test_dsl_rescore_rejections(index):
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    q = {"match": {"content": "data"}}
    rs = {"window_size": 20, "query": {"rescore_query":
                                       {"match": {"content": "fast"}}}}
    for bad, frag in [
        ({"query": q, "rescore": rs, "sort": "doclen"}, "rescore composes"),
        ({"query": q, "rescore": rs, "min_score": 0.5}, "rescore composes"),
        ({"query": q, "rescore": rs,
          "collapse": {"field": "lang"}}, "rescore composes"),
        ({"query": q, "rescore": {"query": {"rescore_query":
                                            {"match_all": {}}}}},
         "AST query kind"),
        ({"query": q, "rescore": {"window_size": 0, "query":
                                  {"rescore_query": q}}}, "window_size"),
        ({"query": q, "rescore": {"window_pane": 5, "query":
                                  {"rescore_query": q}}}, "rescore takes"),
        ({"query": q, "rescore": {"query": {"rescore_query": q,
                                            "score_mode": "median"}}},
         "score_mode"),
        ({"query": q, "rescore": rs, "size": 30}, "fit inside"),
        ({"query": {"match_all": {}}, "rescore": rs}, "AST main query"),
    ]:
        with pytest.raises(DslError, match=".*"):
            try:
                search_dsl(index, bad)
            except DslError as e:
                assert frag in str(e), (frag, str(e))
                raise


def test_dsl_function_score_decay(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    for kind, extra in [("gauss", {}), ("exp", {"offset": 5}),
                        ("linear", {"decay": 0.3})]:
        body = {"query": {"function_score": {
            "query": {"match": {"content": "data"}},
            kind: {"doclen": {"origin": 100, "scale": 50, **extra}},
            "boost_mode": "multiply"}}, "size": 8}
        got = [(r["doc_id"], r["score"])
               for r in search_dsl(index, body).collect()]
        want = [(r["doc_id"], r["score"]) for r in serving.decay_score(
            index, "data", 100.0, 50.0, field="doclen", kind=kind,
            offset=float(extra.get("offset", 0.0)),
            decay=float(extra.get("decay", 0.5)), k=8).collect()]
        assert got == want and got, kind

    for bad, frag in [
        ({"function_score": {"query": {"match": {"content": "data"}},
                             "gauss": {"doclen": {"origin": 1, "scale": 2}},
                             "field_value_factor": {"field": "doclen"}}},
         "exactly one function"),
        ({"function_score": {"query": {"match": {"content": "data"}},
                             "gauss": {"doclen": {"scale": 2}}}},
         "origin must be a number"),
        ({"function_score": {"query": {"match": {"content": "data"}},
                             "exp": {"doclen": {"origin": 1, "scale": 0}}}},
         "scale must be > 0"),
        ({"function_score": {"query": {"match": {"content": "data"}},
                             "linear": {"doclen": {"origin": 1, "scale": 2,
                                                   "decay": 1.0}}}},
         "decay must be in"),
        ({"function_score": {"query": {"match": {"content": "data"}},
                             "gauss": {"doclen": {"origin": 1, "scale": 2,
                                                  "multi_value_mode": "min"}}}},
         "unsupported"),
        ({"function_score": {"query": {"match": {"content": "data"}},
                             "gauss": {"a": {"origin": 1, "scale": 2},
                                       "b": {"origin": 1, "scale": 2}}}},
         "exactly one field"),
    ]:
        with pytest.raises(DslError, match=".*"):
            try:
                search_dsl(index, {"query": bad})
            except DslError as e:
                assert frag in str(e), (frag, str(e))
                raise


def test_dsl_explain_flag(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    body = {"query": {"match": {"content": "data fast"}},
            "explain": True, "size": 5}
    got = [tuple(r) for r in search_dsl(index, body).collect()]
    want = [tuple(r) for r in serving.explain(index, "data fast", k=5).collect()]
    assert got == want and got
    # contributions reconcile with the ranking they explain
    from collections import defaultdict
    per = defaultdict(float)
    score = {}
    for doc_id, s, _stream, _term, _tf, contrib in got:
        per[doc_id] += contrib
        score[doc_id] = s
    for d, s in score.items():
        assert abs(per[d] - s) < 5e-4, (d, per[d], s)

    # explain: false is a plain search
    plain = search_dsl(index, {"query": {"match": {"content": "data"}},
                               "explain": False, "size": 3}).collect()
    assert [c for c in plain[0].asDict()] == ["doc_id", "score"]

    # composes with the restriction plan: breakdown rows only for docs
    # inside the range
    ok = {r[0] for r in index.doc_stats.filter(
        "doclen between 40 and 200").select("doc_id").collect()}
    rows = search_dsl(index, {"query": {"bool": {
        "must": [{"match": {"content": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}},
        "explain": True, "size": 5}).collect()
    assert rows and all(r.doc_id in ok for r in rows)

    for bad, frag in [
        ({"query": {"match": {"content": "data"}}, "explain": True,
          "sort": "doclen"}, "explain composes"),
        ({"query": {"match": {"content": "data"}}, "explain": True,
          "rescore": {"query": {"rescore_query":
                                {"match": {"content": "x"}}}}},
         "explain composes"),
        ({"query": {"match": {"content": "data"}}, "explain": True,
          "_source": ["lang"]}, "explain composes"),
        ({"query": {"match_all": {}}, "explain": True}, "AST query"),
        ({"query": {"match": {"content": "data"}}, "explain": 1},
         "boolean"),
    ]:
        with pytest.raises(DslError, match=".*"):
            try:
                search_dsl(index, bad)
            except DslError as e:
                assert frag in str(e), (frag, str(e))
                raise


def test_dsl_decay_field_and_tag_edge_fixes(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    # non-numeric / unknown decay fields reject at routing, not as cast
    # errors deep in execution
    for f in ("lang", "content", "nosuch"):
        with pytest.raises(DslError, match="numeric doc metadata"):
            search_dsl(index, {"query": {"function_score": {
                "query": {"match": {"content": "data"}},
                "gauss": {f: {"origin": 1, "scale": 2}}}}})
    # aliases map: length->doclen, _id->doc_id
    a = [tuple(r) for r in search_dsl(index, {"query": {"function_score": {
        "query": {"match": {"content": "data"}},
        "linear": {"length": {"origin": 100, "scale": 50}}}},
        "size": 5}).collect()]
    b = [(r["doc_id"], r["score"]) for r in serving.decay_score(
        index, "data", 100.0, 50.0, field="doclen", kind="linear",
        k=5).collect()]
    assert a == b and a

    # an explicit empty-string field-level tag WINS over the top level
    rows = search_dsl(index, {"query": {"match": {"content": "data"}},
                              "highlight": {"fields": {"content":
                                            {"pre_tags": [""],
                                             "post_tags": ["|"]}},
                                            "pre_tags": ["<a>"]},
                              "size": 5}).collect()
    assert any(r.snippet.count("|") and "<a>" not in r.snippet
               and "<em>" not in r.snippet for r in rows)
    # and the shadowed top level still validates
    with pytest.raises(DslError, match="exactly one tag"):
        search_dsl(index, {"query": {"match": {"content": "data"}},
                           "highlight": {"fields": {"content":
                                         {"pre_tags": "«"}},
                                         "pre_tags": ["<a>", "<b>"]}})


def test_dsl_fields_with_source_false(index):
    from bitfunnel_spark.plans.dsl import search_dsl

    # ES's canonical usage: _source disabled, doc values via fields
    a = search_dsl(index, {"query": {"match": {"content": "data"}},
                           "fields": ["repo"], "_source": False,
                           "size": 4}).collect()
    b = search_dsl(index, {"query": {"match": {"content": "data"}},
                           "_source": ["repo"], "size": 4}).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] and a
