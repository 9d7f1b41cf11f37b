"""The (kind × option) grid of the DSL's option tables.

`plans.dsl._serving_query` runs the combinator kinds (`_COMBINATORS`) and
`plans.dsl.run_aggs` the aggregation kinds (`_AGGS`, and `_TERMS_SUBS` for
a terms bucket's sub-agg); both read a kind's options against its row's
declaration. This module crosses:

- each combinator kind with a valid body, plus an unknown option, each
  declared option set to null and to a list, and each required option
  dropped (for intervals: the options of its `match` rule);
- each aggregation kind, and each terms sub-agg kind, with no query, a
  query and a bool carrying a range filter, times a valid conf, plus an
  unknown option, plus a sub-agg, and each declared option set to null;
- the aggs body keys: each `_search` body key, a misspelled `query`, and
  `aggs` beside `aggregations`.

`plans.serving` and the index are recording stand-ins and pyspark is
unimportable, so the whole grid runs without Spark in about a second. A
cell's outcome is the executor call — its name and its arguments bound to
the real executor's signature, defaults applied — or the type of the
exception raised.

option_grid.json holds each cell's outcome recorded from the hand-written
if-chains these tables replaced. `pinned` ran inline DataFrame code
there; its cells record the `serving.pinned` call that code moved into.
A cell may differ from the record only where the record is a raw
exception other than DslError, or an executor call that silently dropped
an unknown option, a sub-agg, a body key or a malformed value; the cell
now raises DslError. A valid cell never changes its executor call.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import pathlib
import sys
from unittest import mock

import bitfunnel_spark.plans as plans
from bitfunnel_spark.index import FullTextIndex
from bitfunnel_spark.plans import dsl
from bitfunnel_spark.plans import serving as real_serving

RECORD = pathlib.Path(__file__).with_name("option_grid.json")

Q = {"match": {"body": "data"}}
RANGE_Q = {"bool": {"must": [Q], "filter": [{"range": {"doclen": {"gte": 10}}}]}}


def _span(tok):
    return {"span_term": {"body": tok}}


# valid bodies per combinator kind; the option variants start from the first
COMBINATORS = {
    "multi_match": [{"query": "data key", "fields": ["body", "path^2"],
                     "type": "best_fields", "tie_breaker": 0.3, "operator": "AND"}],
    "dis_max": [{"queries": [Q, {"term": {"path": "key"}}], "tie_breaker": 0.3}],
    "boosting": [{"positive": Q, "negative": {"match": {"body": "slow"}},
                  "negative_boost": 0.2}],
    "function_score": [
        {"query": Q, "boost_mode": "sum",
         "field_value_factor": {"field": "doclen", "modifier": "log1p", "factor": 1.5}},
        {"query": Q, "random_score": {"seed": 42, "field": "_seq_no"}},
        {"query": Q, "gauss": {"doclen": {"origin": 100, "scale": 50, "offset": 5,
                                          "decay": 0.3}}},
        {"query": Q, "exp": {"length": {"origin": 1, "scale": 2}}, "boost_mode": "replace"},
        {"query": Q, "linear": {"_id": {"origin": 1, "scale": 2}}},
    ],
    "script_score": [{"query": Q, "script": {"source": "_score * params.f",
                                             "params": {"f": 2}}},
                     {"query": Q, "script": "_score * 2"}],
    "rank_feature": [{"field": "doclen", "boost": 2, "saturation": {"pivot": 50}},
                     {"field": "doclen", "log": {"scaling_factor": 3}},
                     {"field": "doclen", "sigmoid": {"pivot": 7, "exponent": 0.6}},
                     {"field": "doclen"}],
    "distance_feature": [{"field": "doclen", "origin": 50, "pivot": 10, "boost": 2}],
    "span_near": [{"clauses": [_span("data"), _span("key")], "slop": 2, "in_order": False},
                  {"clauses": [_span("data"), _span("key")], "slop": 1, "in_order": True},
                  {"clauses": [{"span_or": {"clauses": [_span("row"), _span("key")]}},
                               _span("scan")], "slop": 1}],
    "span_first": [{"match": _span("data"), "end": 5}],
    "span_not": [{"include": {"span_near": {"clauses": [_span("data"), _span("key")],
                                            "slop": 0, "in_order": True}},
                  "exclude": _span("slow"), "pre": 1, "post": 2},
                 {"include": _span("data"), "exclude": _span("key"), "dist": 3}],
    "span_or": [{"clauses": [_span("data"), _span("key")]}],
    "intervals": [{"content": {"match": {"query": "data key", "max_gaps": 2,
                                         "ordered": True}}},
                  {"content": {"match": {"query": "data key", "max_gaps": 2}}},
                  {"content": {"match": {"query": "data key"}}},
                  {"content": {"match": {"query": "data"}}},
                  {"content": {"all_of": {"intervals": [{"match": {"query": "data"}},
                                                        {"match": {"query": "key"}}],
                                          "max_gaps": 3}}}],
    "sparse_vector": [{"field": "content", "query_vector": {"data": 1.5, "key": 0.5}}],
    "pinned": [{"ids": [3, 1], "organic": Q}],
    "more_like_this": [{"like": [{"_id": 7}], "max_query_terms": 5},
                       {"like": {"_id": "7"}}],
}

# valid specs per aggregation kind; the option variants start from the first
AGGS = {
    "filters": [{"filters": {"filters": {"a": Q, "b": {"term": {"lang": "en"}}}}}],
    "adjacency_matrix": [{"adjacency_matrix": {"filters": {"a": Q, "b": {"term": {
        "lang": "en"}}}}}],
    "global": [{"global": {}, "aggs": {"s": {"stats": {"field": "doclen"}}}}],
    "t_test": [{"t_test": {"a": {"field": "doclen", "filter": {"term": {"lang": "en"}}},
                           "b": {"field": "doclen", "filter": {"term": {"lang": "fr"}}},
                           "type": "heteroscedastic"}}],
    "percentile_ranks": [{"percentile_ranks": {"field": "doclen", "values": [10, 50]}}],
    "weighted_avg": [{"weighted_avg": {"value": {"field": "chars"},
                                       "weight": {"field": "doclen"}}}],
    "string_stats": [{"string_stats": {"field": "repo", "show_distribution": False}}],
    "composite": [{"composite": {"sources": [{"l": {"terms": {"field": "lang"}}},
                                             {"r": {"terms": {"field": "repo"}}}],
                                 "size": 5, "after": {"l": "en", "r": "x"}}},
                  {"composite": {"sources": [{"l": {"terms": {"field": "lang"}}}]}}],
    "sampler": [{"sampler": {"shard_size": 16}, "aggs": {"b": {"terms": {"field": "lang"}}}}],
    "diversified_sampler": [{"diversified_sampler": {"shard_size": 16, "field": "repo",
                                                     "max_docs_per_value": 2},
                             "aggs": {"b": {"terms": {"field": "lang"}}}}],
    "histogram": [{"histogram": {"field": "doclen", "interval": 16}}],
    "extended_stats": [{"extended_stats": {"field": "doclen"}}],
    "range": [{"range": {"field": "doclen", "ranges": [{"to": 24}, {"from": 24, "to": 96},
                                                       {"from": 96}]}}],
    "significant_terms": [{"significant_terms": {"field": "content", "size": 5}}],
    "significant_text": [{"significant_text": {"field": "body"}}],
    "rare_terms": [{"rare_terms": {"field": "repo", "max_doc_count": 2}}],
    "multi_terms": [{"multi_terms": {"terms": [{"field": "lang"}, {"field": "repo"}],
                                     "size": 5}}],
    "terms": [{"terms": {"field": "lang"}},
              {"terms": {"field": "lang"}, "aggregations": {
                  "m1": {"avg": {"field": "doclen"}},
                  "m2": {"cardinality": {"field": "repo"}},
                  "m3": {"percentiles": {"percents": [50]}}}}],
    "matrix_stats": [{"matrix_stats": {"fields": ["doclen", "chars"]}},
                     {"matrix_stats": {}}],
    **{kind: [{kind: {"field": "doclen"}}]
       for kind in ("stats", "avg", "sum", "min", "max", "value_count")},
    "cardinality": [{"cardinality": {"field": "repo"}}],
    "percentiles": [{"percentiles": {"field": "doclen", "percents": [50, 99]}},
                    {"percentiles": {}}],
}

# valid confs per terms sub-agg kind, under terms(lang)
TERMS_SUBS = {
    "stats": {"field": "doclen"},
    "percentiles": {"field": "doclen", "percents": [50, 90]},
    "boxplot": {"field": "doclen"},
    "median_absolute_deviation": {"field": "doclen"},
    "cardinality": {"field": "repo"},
    "top_hits": {"size": 2},
}

QUERIES = {"no query": {}, "query": {"query": Q}, "range": {"query": RANGE_Q}}

# one valid value per `_search` body key (tests/test_route_table.py)
BODY_KEYS = {
    "size": 5, "from": 2, "_source": ["repo"], "fields": ["path"],
    "sort": [{"doclen": "asc"}], "highlight": {"fields": {"content": {}}},
    "collapse": {"field": "lang"}, "post_filter": {"range": {"doc_id": {"lt": 100}}},
    "min_score": 0.5, "search_after": [0.5, 3],
    "rescore": {"window_size": 50, "query": {"rescore_query": {"match": {"body": "key"}}}},
    "explain": True, "suggest": {"s": {"text": "data", "term": {}}},
}


def _required(spec) -> list:
    return [name for name, opt in spec.items() if opt.default is dsl._REQ]


def _combinator_cells():
    for kind, bodies in COMBINATORS.items():
        row = dsl._COMBINATORS[kind]
        for i, body in enumerate(bodies):
            yield f"{kind} valid#{i}", ("combinator", kind, body)
        body = bodies[0]
        # the options dict the variants edit: the body, or intervals' rule
        path = ("content", "match") if row.spec is None else ()
        spec = dsl._INTERVAL_RULES["match"] if row.spec is None else row.spec

        def edit(fn):
            out = json.loads(json.dumps(body))
            opts = out
            for key in path:
                opts = opts[key]
            fn(opts)
            return ("combinator", kind, out)

        yield f"{kind} +unknown", edit(lambda o: o.update(no_such_option=1))
        for name in spec:
            yield f"{kind} {name}=null", edit(lambda o, n=name: o.update({n: None}))
            yield f"{kind} {name}=[1]", edit(lambda o, n=name: o.update({n: [1]}))
        for name in _required(spec):
            yield f"{kind} -{name}", edit(lambda o, n=name: o.pop(n))


def _agg_variants(label, spec, kind, row, inner=()):
    """(label, agg spec) for a valid spec and its variants; ``inner`` is
    the key path to the conf and sub-aggs the variants edit."""
    def edit(fn):
        out = json.loads(json.dumps(spec))
        at = out
        for key in inner:
            at = at[key]
        fn(at)
        return out

    yield f"{label} +unknown", edit(lambda s: s[kind].update(no_such_option=1))
    yield f"{label} +sub-agg", edit(lambda s: s.setdefault("aggs", {}).update(
        extra={"avg": {"field": "doclen"}}))
    for name in row.spec:
        yield f"{label} {name}=null", edit(lambda s, n=name: s[kind].update({n: None}))


def _agg_cells():
    for qlabel, qbody in QUERIES.items():
        for kind, specs in AGGS.items():
            label = f"agg {kind} [{qlabel}]"
            for i, spec in enumerate(specs):
                yield f"{label} valid#{i}", ("aggs", {**qbody, "aggs": {"a": spec}})
            for vlabel, spec in _agg_variants(label, specs[0], kind, dsl._AGGS[kind]):
                yield vlabel, ("aggs", {**qbody, "aggs": {"a": spec}})
        for kind, conf in TERMS_SUBS.items():
            label = f"terms-sub {kind} [{qlabel}]"
            spec = {"terms": {"field": "lang"}, "aggs": {"s": {kind: conf}}}
            yield f"{label} valid#0", ("aggs", {**qbody, "aggs": {"a": spec}})
            for vlabel, vspec in _agg_variants(label, spec, kind, dsl._TERMS_SUBS[kind],
                                               ("aggs", "s")):
                yield vlabel, ("aggs", {**qbody, "aggs": {"a": vspec}})


def _body_cells():
    base = {"query": Q, "aggs": {"a": {"terms": {"field": "lang"}}}}
    yield "body valid#0", ("aggs", base)
    yield "body valid#1", ("aggs", {"query": Q, "aggregations": base["aggs"]})
    for key, value in BODY_KEYS.items():
        yield f"body +{key}", ("aggs", {**base, key: value})
    yield "body qeury", ("aggs", {"qeury": Q, "aggs": base["aggs"]})
    yield "body aggs+aggregations", ("aggs", {**base, "aggregations": {
        "b": {"avg": {"field": "doclen"}}}})


def cells() -> dict:
    """{cell id: (api, *payload)} over the three grids."""
    out = {}
    for cid, cell in (*_combinator_cells(), *_agg_cells(), *_body_cells()):
        assert cid not in out, cid
        out[cid] = cell
    return out


class _Index:
    """The index stand-in: records its search calls; a restricted copy
    names its restriction."""

    def __init__(self, calls, restrict=None):
        self.calls, self.restrict = calls, restrict

    def __repr__(self):
        return "index" if self.restrict is None else f"index{self.restrict!r}"

    def search(self, *args, **kwargs):
        self.calls.append(_bound("index.search", FullTextIndex.search,
                                 (self, *args), kwargs))
        return "result"


def _bound(name, fn, args, kwargs) -> str:
    """``name(param=value, ...)``: the call bound to ``fn``'s signature with
    its defaults applied, so positional, keyword and defaulted arguments
    record alike."""
    bound = inspect.signature(fn).bind(*args, **kwargs)
    bound.apply_defaults()
    params = ", ".join(f"{p}={v!r}" for p, v in bound.arguments.items() if p != "self")
    return f"{name}({params})"


class _Serving:
    """The plans.serving stand-in: each function records its call."""

    def __init__(self, calls):
        self.calls = calls

    def __getattr__(self, name):
        real = getattr(real_serving, name)
        if not inspect.isfunction(real):
            return real

        def call(*args, **kwargs):
            self.calls.append(_bound(name, real, args, kwargs))
            return "result"
        return call


@contextlib.contextmanager
def recording(calls):
    """plans.serving, the restriction and pyspark replaced: a cell runs
    the DSL's own code and records the executor it reaches."""
    def restricted(index, pos=(), neg=(), post_filter=None):
        if not (pos or neg or post_filter):
            return index
        return _Index(calls, ("restricted", pos, neg, post_filter))

    with mock.patch.object(plans, "serving", _Serving(calls)), \
            mock.patch.object(dsl, "_restricted", restricted), \
            mock.patch.dict(sys.modules, {"pyspark": None, "pyspark.sql": None}):
        yield


def outcome(api, *payload) -> str:
    """The executor call a cell reaches, or its exception's type name."""
    calls = []
    with recording(calls):
        try:
            if api == "combinator":
                kind, body = payload
                dsl._serving_query(_Index(calls), kind, body, k=10)
            else:
                dsl.run_aggs(_Index(calls), payload[0])
        except Exception as e:  # noqa: BLE001 — the exception type is the outcome
            return type(e).__name__
    assert len(calls) == 1, calls
    return calls[0]


def test_grid_is_complete():
    """Every cell has a recorded outcome, every table row has cells."""
    grid = cells()
    assert set(grid) == set(json.loads(RECORD.read_text()))
    assert set(COMBINATORS) == set(dsl._COMBINATORS)
    assert set(AGGS) == set(dsl._AGGS) and set(TERMS_SUBS) == set(dsl._TERMS_SUBS)


def test_every_cell_calls_an_executor_or_raises_dsl_error():
    record = json.loads(RECORD.read_text())
    bad = []
    for cid, cell in cells().items():
        got, was = outcome(*cell), record[cid]
        if got == was and (got == "DslError" or "(" in got):
            continue
        # the only change allowed: a raw exception, or a call that dropped
        # what the cell added, now raises DslError
        mended = got == "DslError" and "valid#" not in cid
        if not mended:
            bad.append((cid, was, got))
    assert not bad, bad

