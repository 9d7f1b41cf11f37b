"""Round-5 surface tail: simple_query_string, distance_feature,
weighted_avg, date_range, and search templates — compile shapes, tolerant
parsing, and execution against independent DuckDB checks."""

import math

import pytest

from bitfunnel_spark.plans.ast import And, Not, Or, Phrase, Prefix, Term
from bitfunnel_spark.plans.dsl import DslError, compile_dsl, run_aggs, search_dsl
from bitfunnel_spark.plans.templates import (
    TemplateError,
    render_template,
    search_template,
)


# --- simple_query_string: compile shapes -----------------------------------

def sqs(q, **opts):
    return compile_dsl({"simple_query_string": {"query": q, **opts}})


def test_sqs_basic_shapes():
    assert sqs("data") == Term("data")
    # whitespace joins with default_operator (or)
    assert sqs("dup vector") == Or((Term("dup"), Term("vector")))
    assert sqs("dup vector", default_operator="and") == And(
        (Term("dup"), Term("vector"))
    )
    # explicit infix ops
    assert sqs("data + fast") == And((Term("data"), Term("fast")))
    assert sqs("dup | vector") == Or((Term("dup"), Term("vector")))
    # left-associative equal precedence (Lucene SimpleQueryParser)
    assert sqs("data + fast | dup") == Or(
        (And((Term("data"), Term("fast"))), Term("dup"))
    )
    assert sqs("data | fast + dup") == And(
        (Or((Term("data"), Term("fast"))), Term("dup"))
    )


def test_sqs_negation_phrase_prefix():
    # -term lifts to a top-level must_not regardless of position
    assert sqs("data -slow") == And((Term("data"), Not(Term("slow"))))
    assert sqs("-slow data") == And((Term("data"), Not(Term("slow"))))
    assert sqs('"fast key order"') == Phrase(("fast", "key", "order"))
    assert sqs("dup*") == Prefix("dup")
    assert sqs('data -"slow path"') == And(
        (Term("data"), Not(Phrase(("slow", "path"))))
    )


def test_sqs_multi_token_unit_joins_with_default_op():
    assert sqs("foo-bar") == Or((Term("foo"), Term("bar")))
    assert sqs("foo-bar", default_operator="and") == And(
        (Term("foo"), Term("bar"))
    )


def test_sqs_tolerant_parsing():
    # dangling operators and empty units are dropped, never raised
    assert sqs("data |") == Term("data")
    assert sqs("| data") == Term("data")
    assert sqs("data + ") == Term("data")
    assert sqs('data ""') == Term("data")
    # unbalanced quote: the rest of the string becomes the phrase
    assert sqs('data "fast key') == Or((Term("data"), Phrase(("fast", "key"))))
    # punctuation-only unit analyzes to zero tokens and is dropped,
    # taking its operator with it
    assert sqs("data + !!!") == Term("data")


def test_sqs_errors():
    with pytest.raises(DslError):
        sqs("-slow")  # only negations
    with pytest.raises(DslError):
        sqs("   ")
    with pytest.raises(DslError):
        sqs("data", flags="OR|AND")
    with pytest.raises(DslError):
        sqs("data", fields=["content", "lang"])  # two streams
    # same stream through several aliases is fine
    assert sqs("data", fields=["content", "body"]) == Term("data")


def test_sqs_executes_like_query_string(index):
    got = search_dsl(index, {
        "query": {"simple_query_string": {"query": "data + fast | dup -slow"}},
        "size": 10,
    }).collect()
    want = search_dsl(index, {
        "query": {"query_string": {"query": "((data & fast) | dup) -slow"}},
        "size": 10,
    }).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


# --- distance_feature -------------------------------------------------------

def test_distance_feature_vs_duck(index, duck):
    rows = search_dsl(index, {
        "query": {"distance_feature": {
            "field": "doclen", "origin": 64, "pivot": 8.0, "boost": 2.0}},
        "size": 10,
    }).collect()
    want = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9_]+')) AS t FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id)
        SELECT doc_id, round(2.0 * 8.0 / (8.0 + abs(doclen - 64.0)), 4)
        FROM dl ORDER BY 2 DESC, doc_id ASC LIMIT 10
    """).fetchall()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (d, s) for d, s in want
    ]


def test_distance_feature_validates(index):
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"distance_feature": {
            "field": "doclen", "origin": 0, "pivot": 0}}})
    with pytest.raises(DslError):
        search_dsl(index, {"query": {"distance_feature": {
            "field": "doclen", "origin": "now-7d", "pivot": 8}}})


# --- weighted_avg ------------------------------------------------------------

def test_weighted_avg_vs_duck(index, duck):
    r = run_aggs(index, {
        "query": {"query_string": {"query": "data"}},
        "aggs": {"w": {"weighted_avg": {
            "value": {"field": "chars"}, "weight": {"field": "doclen"}}}},
    }).collect()[0]
    want = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9_]+')) AS t FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
        m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'data')
        SELECT count(*),
               sum(dl.doclen)::BIGINT,
               round(CAST(sum(length(d.text) * dl.doclen) AS DOUBLE)
                     / CAST(sum(dl.doclen) AS DOUBLE), 4)
        FROM m JOIN documents d USING (doc_id) JOIN dl USING (doc_id)
    """).fetchall()[0]
    assert (r["n"], r["weight_sum"]) == (want[0], want[1])
    assert math.isclose(r["weighted_avg"], want[2], abs_tol=1e-9)


def test_weighted_avg_validates(index):
    with pytest.raises(DslError):
        run_aggs(index, {
            "query": {"query_string": {"query": "data"}},
            "aggs": {"w": {"weighted_avg": {
                "value": {"field": "doclen"}, "weight": {"field": "doclen"}}}},
        })
    with pytest.raises(DslError):
        run_aggs(index, {
            "query": {"query_string": {"query": "data"}},
            "aggs": {"w": {"weighted_avg": {
                "value": {"field": "nope"}, "weight": {"field": "doclen"}}}},
        })


# --- date_range --------------------------------------------------------------

def test_date_range_vs_duck(spark, duck):
    from bitfunnel_spark.plans.dsl import run_date_aggs

    ev = spark.read.parquet(f"{duck_events_path()}")
    rows = run_date_aggs(ev, {
        "query": {"term": {"event_type": "click"}},
        "aggs": {"r": {"date_range": {
            "field": "ts",
            "ranges": [
                {"to": "2024-01-10 00:00:00"},
                {"from": "2024-01-10 00:00:00", "to": "2024-01-20 00:00:00"},
                {"from": "2024-01-20 00:00:00"},
            ]}}},
    }).collect()
    counts = {r["key"]: r["doc_count"] for r in rows}
    for key, cond in [
        ("*-2024-01-10 00:00:00", "ts < TIMESTAMP '2024-01-10'"),
        ("2024-01-10 00:00:00-2024-01-20 00:00:00",
         "ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'"),
        ("2024-01-20 00:00:00-*", "ts >= TIMESTAMP '2024-01-20'"),
    ]:
        want = duck.execute(
            f"SELECT count(*) FROM events WHERE event_type = 'click' AND {cond}"
        ).fetchall()[0][0]
        assert counts[key] == want, key
    # overlapping ranges are legal (each bucket is an independent sum)
    total = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'click'"
    ).fetchall()[0][0]
    assert sum(counts.values()) == total


def duck_events_path():
    import os

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    return f"{base}/events.parquet"


def test_date_range_validates(spark):
    from bitfunnel_spark.plans.dsl import run_date_aggs

    ev = spark.read.parquet(duck_events_path())
    with pytest.raises(DslError):
        run_date_aggs(ev, {"aggs": {"r": {"date_range": {
            "field": "ts", "ranges": []}}}})
    with pytest.raises(DslError):
        run_date_aggs(ev, {"aggs": {"r": {"date_range": {
            "field": "nope", "ranges": [{"from": "2024-01-01"}]}}}})
    with pytest.raises(DslError):
        run_date_aggs(ev, {"aggs": {"r": {"date_range": {
            "field": "ts", "ranges": [{"banana": 1}]}}}})


# --- search templates ---------------------------------------------------------

def test_render_template_string_source():
    body = render_template(
        '{"query": {"query_string": {"query": "{{q}}"}}, "size": {{k}}}',
        {"q": "data -slow", "k": 5},
    )
    assert body == {"query": {"query_string": {"query": "data -slow"}}, "size": 5}


def test_render_template_dict_source_typed_leaves():
    body = render_template(
        {"query": {"terms": {"content": "{{#toJson}}words{{/toJson}}"}},
         "size": "{{k}}", "note": "q={{q}}"},
        {"words": ["dup", "vector"], "k": 3, "q": "x"},
    )
    # whole-leaf placeholders keep the param's type
    assert body["query"]["terms"]["content"] == ["dup", "vector"]
    assert body["size"] == 3
    assert body["note"] == "q=x"


def test_render_template_missing_param_refuses():
    with pytest.raises(TemplateError):
        render_template('{"size": {{k}}}', {})
    with pytest.raises(TemplateError):
        render_template({"size": "{{k}}"}, {})


def test_search_template_equals_rendered_body(index):
    got = search_template(index, {
        "source": '{"query": {"query_string": {"query": "{{q}}"}}, "size": 5}',
        "params": {"q": "dup | vector"},
    }).collect()
    want = search_dsl(index, {
        "query": {"query_string": {"query": "dup | vector"}}, "size": 5,
    }).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_search_template_validates():
    with pytest.raises(TemplateError):
        search_template(None, {"params": {}})
    with pytest.raises(TemplateError):
        search_template(None, {"source": "{not json", "params": {}})


# --- _validate/query ------------------------------------------------------------

def test_validate_query_explains_or_reports():
    from bitfunnel_spark.plans.dsl import validate_query

    ok, expl = validate_query({"query": {"bool": {
        "must": [{"match": {"content": "data"}}],
        "must_not": [{"match": {"content": "slow"}}]}}})
    assert ok and "data" in expl and "slow" in expl
    # bare query object works too
    ok, _ = validate_query({"match": {"content": "data"}})
    assert ok
    # invalid bodies REPORT, never raise — the point of the API
    ok, expl = validate_query({"query": {"match": {}}})
    assert not ok and "DslError" in expl
    ok, expl = validate_query({"query": {"banana": {"content": "x"}}})
    assert not ok


# --- simple_query_string: property fuzz -----------------------------------------

def test_sqs_never_crashes_on_arbitrary_text():
    """The tolerant-parser contract, fuzzed: ANY text either compiles to a
    Node or raises DslError (pure-negation / zero-clause inputs) — never
    any other exception. Hypothesis drives the hand-rolled scanner over
    printable garbage, operator soup, and quote imbalance."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bitfunnel_spark.plans.ast import Node

    alphabet = st.sampled_from(
        list("abc dz|+-*\"()~^:/\\{}[]!@#$%&=;,.<>?0129_\t")
    )
    texts = st.text(alphabet, min_size=1, max_size=40)

    @given(texts)
    @settings(max_examples=300, deadline=None)
    def run(text):
        try:
            node = sqs(text)
        except DslError:
            return
        assert isinstance(node, Node)

    run()


def test_sqs_structured_equivalence_fuzz():
    """Structured fuzz: random well-formed unit/operator sequences must
    fold exactly like an independently-written reference fold."""
    import random

    from bitfunnel_spark.plans.ast import And, Not, Or, Term

    rng = random.Random(77)
    vocab = ["data", "fast", "dup", "vector", "spark", "join"]
    for _ in range(200):
        n_units = rng.randint(1, 5)
        units = []
        for _ in range(n_units):
            units.append((rng.choice([None, "or", "and"]),  # op before
                          rng.random() < 0.25,              # negated
                          rng.choice(vocab)))
        default_op = rng.choice(["or", "and"])
        # render the text
        parts = []
        for op, neg, w in units:
            if op == "or":
                parts.append("|")
            elif op == "and":
                parts.append("+")
            parts.append(("-" if neg else "") + w)
        text = " ".join(parts)
        # independent reference fold
        acc, negs = None, []
        for i, (op, neg, w) in enumerate(units):
            t = Term(w)
            if neg:
                negs.append(t)
                continue
            if acc is None:
                acc = t
                continue
            use = op or default_op
            acc = And((acc, t)) if use == "and" else Or((acc, t))
        if acc is None:
            with pytest.raises(DslError):
                sqs(text, default_operator=default_op)
            continue
        want = And((acc, *[Not(x) for x in negs])) if negs else acc
        # a leading operator before the FIRST unit is a dangling op the
        # tolerant scanner drops — the reference fold ignores it too
        assert sqs(text, default_operator=default_op) == want, text


def test_sqs_rejects_field_boosts_loudly():
    with pytest.raises(DslError, match="multi_match"):
        sqs("data", fields=["content^2"])


def test_date_range_rejects_unparseable_bounds(spark):
    from bitfunnel_spark.plans.dsl import run_date_aggs

    ev = spark.read.parquet(duck_events_path())
    with pytest.raises(DslError, match="unparseable"):
        run_date_aggs(ev, {"aggs": {"r": {"date_range": {
            "field": "ts", "ranges": [{"from": "not-a-date"}]}}}})


# --- review-pass regressions ----------------------------------------------------

def test_validate_query_accepts_combinator_and_filter_kinds():
    from bitfunnel_spark.plans.dsl import validate_query

    for q, frag in [
        ({"query": {"multi_match": {"query": "x", "fields": ["content"]}}},
         "combinator"),
        ({"query": {"distance_feature": {
            "field": "doclen", "origin": 64, "pivot": 8.0}}}, "combinator"),
        ({"query": {"match_all": {}}}, "filter-only"),
        ({"query": {"ids": {"values": [1]}}}, "filter-only"),
    ]:
        ok, expl = validate_query(q)
        assert ok and frag in expl, (q, ok, expl)


def test_render_template_no_reinterpolation():
    # a param VALUE containing {{...}} must come through literally —
    # substituted text is never rescanned (mustache's rule)
    body = render_template(
        '{"query": {"match": {"content": {{#toJson}}q{{/toJson}}}}}',
        {"q": "find {{k}}"},
    )
    assert body["query"]["match"]["content"] == "find {{k}}"
    body = render_template('{"note": "{{a}}"}', {"a": "x {{b}} y"})
    assert body["note"] == "x {{b}} y"


def test_date_range_rejects_spark_null_castable_bounds(spark):
    from bitfunnel_spark.plans.dsl import run_date_aggs

    ev = spark.read.parquet(duck_events_path())
    # fromisoformat accepts '20240108' but Spark's cast yields NULL —
    # must reject; same for shape-valid but impossible dates
    for bad in ["20240108", "2024-13-01", "2024-01-99", "2024-1-8"]:
        with pytest.raises(DslError, match="unparseable"):
            run_date_aggs(ev, {"aggs": {"r": {"date_range": {
                "field": "ts", "ranges": [{"from": bad}]}}}})


def test_distance_feature_rejects_unknown_and_string_fields(index):
    for bad in ("nope", "content", "lang"):
        with pytest.raises(DslError, match="doclen or doc_id"):
            search_dsl(index, {"query": {"distance_feature": {
                "field": bad, "origin": 1, "pivot": 1}}})
    # doc_id is a legal per-doc numeric
    rows = search_dsl(index, {"query": {"distance_feature": {
        "field": "doc_id", "origin": 10, "pivot": 5.0}}, "size": 3}).collect()
    assert rows and rows[0]["doc_id"] == 10  # the origin doc scores 1.0


def test_sqs_multi_token_prefix_keeps_last_token_prefix():
    assert sqs("foo-bar*") == Or((Term("foo"), Prefix("bar")))
    assert sqs("foo-bar*", default_operator="and") == And(
        (Term("foo"), Prefix("bar"))
    )


def test_msearch_rejects_min_score_and_aggs(index):
    from bitfunnel_spark.plans.dsl import msearch

    with pytest.raises(DslError, match="min_score"):
        msearch(index, [{"query": {"query_string": "data"},
                         "min_score": 2.0}])
    with pytest.raises(DslError, match="aggs"):
        msearch(index, [{"query": {"query_string": "data"},
                         "aggs": {"a": {"terms": {"field": "lang"}}}}])
    # a batched body takes query and size only: every other key rejects,
    # before the index is touched, instead of running as if absent
    for key, value in [("post_filter", {"range": {"doclen": {"gte": 5}}}),
                       ("collapse", {"field": "repo"}), ("explain", True),
                       ("search_after", [1.0, 3]),
                       ("rescore", {"query": {"rescore_query": {
                           "match": {"body": "data"}}}}),
                       ("no_such_key", 1)]:
        with pytest.raises(DslError, match=f"msearch bodies don't support '{key}'"):
            msearch(None, [{"query": {"query_string": "data"}, "size": 3},
                           {"query": {"query_string": "data"}, key: value}])


def test_search_many_per_query_k_list(index):
    # the per-query-k contract now lives in batch.search_many itself
    from bitfunnel_spark.plans.batch import search_many

    rows = search_many(index, ["data", "dup"], k=[3, 7]).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q[0]) == 3 and len(by_q[1]) == 7
    with pytest.raises(ValueError, match="match the query count"):
        search_many(index, ["data"], k=[1, 2])


# --- _terms_enum + collapse body routing (late r05) -------------------------

def test_terms_enum_vs_duck(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_terms_enum_sql
    from bitfunnel_spark.plans.serving import terms_enum

    got = [r[0] for r in terms_enum(index, "s", size=5).collect()]
    want = [r[0] for r in duck.execute(oracle_terms_enum_sql("s", size=5)).fetchall()]
    assert got == want and got == sorted(got)
    assert all(t.startswith("s") for t in got)
    # the limit binds: corpus has more s-terms than the page
    unlimited = [r[0] for r in terms_enum(index, "s", size=100).collect()]
    assert len(unlimited) > len(got) and unlimited[:5] == got


def test_terms_enum_fields_and_case(index):
    from bitfunnel_spark.plans.serving import terms_enum

    langs = [r[0] for r in terms_enum(index, "", size=100, field="lang").collect()]
    assert langs == sorted(langs) and len(langs) >= 1
    # dictionary terms are lowercased at index time, so a cased prefix
    # only matches in case-insensitive mode
    assert terms_enum(index, "S", size=5).count() == 0
    ci = [r[0] for r in terms_enum(index, "S", size=5, case_insensitive=True).collect()]
    assert ci and all(t.startswith("s") for t in ci)
    with pytest.raises(ValueError):
        terms_enum(index, "s", field="content")


def test_dsl_collapse_routes_to_collapse_topk(index):
    from bitfunnel_spark.plans.serving import collapse_topk

    body = {"query": {"query_string": {"query": "data | vector"}},
            "collapse": {"field": "lang"}, "size": 10}
    got = [tuple(r) for r in search_dsl(index, body).collect()]
    want = [tuple(r) for r in
            collapse_topk(index, "data | vector", by="lang", k=10).collect()]
    assert got == want
    # collapsed: one hit per distinct field value, score-ranked
    langs = [r[2] for r in got]
    assert len(langs) == len(set(langs))
    scores = [r[1] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_dsl_collapse_composes_with_from_and_source(index):
    body = {"query": {"query_string": {"query": "data | vector"}},
            "collapse": {"field": "lang"}, "size": 2, "from": 1,
            "_source": ["repo"]}
    full = search_dsl(index, {"query": {"query_string": {"query": "data | vector"}},
                              "collapse": {"field": "lang"}, "size": 3}).collect()
    page = search_dsl(index, body).collect()
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in full[1:3]]
    assert "repo" in page[0].asDict()


def test_dsl_collapse_rejections(index):
    base = {"query": {"query_string": {"query": "data"}}}
    for bad in [
        # inner_hits is now routed (per_group — tests/test_range_filter.py);
        # malformed inner_hits still rejects
        {**base, "collapse": {"field": "lang", "inner_hits": {"size": 2},
                              "max_concurrent_group_searches": 4}},
        {**base, "collapse": {"field": "lang", "inner_hits": {"size": "2"}}},
        {**base, "collapse": {"field": "content"}},
        {**base, "collapse": "lang"},
        {**base, "collapse": {"field": "lang"}, "sort": [{"doclen": "desc"}]},
        {**base, "collapse": {"field": "lang"}, "min_score": 0.5},
        {"query": {"match_all": {}}, "collapse": {"field": "lang"}},
        {"query": {"dis_max": {"queries": [{"match": {"body": "data"}}]}},
         "collapse": {"field": "lang"}},
    ]:
        with pytest.raises(DslError):
            search_dsl(index, bad)


def test_match_minimum_should_match(index):
    from bitfunnel_spark.plans.ast import And as A, Or as O, Term as T

    mk = lambda **o: compile_dsl({"match": {"body": {"query": "data fast dup", **o}}})
    assert mk(minimum_should_match=2) == O((T("data"), T("fast"), T("dup")), min_match=2)
    assert mk(minimum_should_match=1) == O((T("data"), T("fast"), T("dup")))
    assert mk(minimum_should_match=3) == A((T("data"), T("fast"), T("dup")))
    assert compile_dsl({"match": {"body": {"query": "data", "minimum_should_match": 1}}}) == T("data")
    # execution ≡ the terms_set the same floor compiles to
    got = [tuple(r) for r in search_dsl(
        index, {"query": {"match": {"body": {"query": "data fast dup",
                                             "minimum_should_match": 2}}}}).collect()]
    want = [tuple(r) for r in search_dsl(
        index, {"query": {"terms_set": {"body": {"terms": ["data", "fast", "dup"],
                                                 "minimum_should_match": 2}}}}).collect()]
    assert got == want and got
    for bad in [dict(minimum_should_match=0), dict(minimum_should_match=4),
                dict(minimum_should_match="75%"), dict(minimum_should_match=True),
                dict(operator="and", minimum_should_match=2),
                # an invalid operator must raise with OR without the floor,
                # never silently execute as 'or'
                dict(operator="xor", minimum_should_match=2),
                dict(operator="xor")]:
        with pytest.raises(DslError):
            mk(**bad)
    # boost composes on the single-term msm path exactly like non-msm
    from bitfunnel_spark.plans.ast import Boost
    assert compile_dsl({"match": {"body": {
        "query": "data", "boost": 2.0, "minimum_should_match": 1,
    }}}) == Boost(T("data"), 2.0)


def test_dsl_search_after_pages_partition_ranking(index):
    q = {"query_string": {"query": "data | vector"}}
    p1 = search_dsl(index, {"query": q, "size": 5}).collect()
    cursor = [p1[-1]["score"], p1[-1]["doc_id"]]
    p2 = search_dsl(index, {"query": q, "size": 5, "search_after": cursor}).collect()
    full = search_dsl(index, {"query": q, "size": 10}).collect()
    assert [tuple(r) for r in p1 + p2] == [tuple(r) for r in full]
    # _source composes
    src = search_dsl(index, {"query": q, "size": 3, "search_after": cursor,
                             "_source": ["lang"]}).collect()
    assert [r["doc_id"] for r in src] == [r["doc_id"] for r in p2[:3]]
    assert "lang" in src[0].asDict()
    for bad in [
        {"query": q, "search_after": [1.0]},
        {"query": q, "search_after": cursor, "from": 2},
        {"query": q, "search_after": cursor, "sort": [{"doclen": "desc"}]},
        {"query": q, "search_after": cursor, "min_score": 0.1},
        {"query": q, "search_after": cursor, "collapse": {"field": "lang"}},
        {"query": {"match_all": {}}, "search_after": cursor},
        # swapped cursor ([doc_id, score]): the fractional doc_id must
        # reject loudly, never int()-truncate to a valid-looking cursor
        {"query": q, "search_after": [cursor[1], cursor[0]]},
        # malformed cursor elements surface as DslError, never the raw
        # TypeError/ValueError of float()/int(), and bools don't pass as ids
        {"query": q, "search_after": [None, 5]},
        {"query": q, "search_after": ["abc", 5]},
        {"query": q, "search_after": [True, 5]},
        {"query": q, "search_after": [0.5, True]},
    ]:
        with pytest.raises(DslError):
            search_dsl(index, bad)
