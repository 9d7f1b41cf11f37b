"""The full (query kind × `_search` body key) grid of the routing table.

`plans.dsl._route` decides, from the body alone, which executor a
`_search` body runs on and which body keys compose. This module crosses
every query kind `search_dsl` accepts (plus a bool carrying a range in
`bool.filter`, and a bool of only metadata filters) with: no body key,
each body key, and each pair of body keys. Every cell either routes or
raises DslError — never another exception — and `_route` runs with
pyspark made unimportable, so the whole grid is checked without a
SparkSession in well under a second.

EXPECTED is the outcome of `search_dsl` (plan construction, no
collect) over the same grid on the tests' sf0.001 index, recorded once
from the hand-written router this table replaced: '.' routes, 'x' raises
DslError. A cell that changes outcome is a behaviour change of the
`_search` surface, not a test to re-record.
"""

from __future__ import annotations

import itertools
import sys

import pytest

from bitfunnel_spark.plans.dsl import DslError, _route


def _span(tok):
    return {"span_term": {"body": tok}}


# one valid query per kind search_dsl accepts
KINDS = {
    "query_string": {"query_string": {"query": "data"}},
    "simple_query_string": {"simple_query_string": {"query": "data +key"}},
    "match": {"match": {"body": "data key"}},
    "match_phrase": {"match_phrase": {"body": "fast key"}},
    "match_phrase_prefix": {"match_phrase_prefix": {"body": "fast ke"}},
    "match_bool_prefix": {"match_bool_prefix": {"body": "fast ke"}},
    "term": {"term": {"body": "data"}},
    "terms": {"terms": {"body": ["data", "key"]}},
    "terms_set": {"terms_set": {"body": {"terms": ["data", "key"],
                                         "minimum_should_match": 1}}},
    "prefix": {"prefix": {"body": "dat"}},
    "wildcard": {"wildcard": {"body": "d*a"}},
    "regexp": {"regexp": {"body": "da.a"}},
    "fuzzy": {"fuzzy": {"body": "dta"}},
    "combined_fields": {"combined_fields": {"query": "data",
                                            "fields": ["body", "path^2"]}},
    "bool": {"bool": {"must": [{"match": {"body": "data"}}],
                      "must_not": [{"term": {"body": "slow"}}]}},
    "bool+range": {"bool": {"must": [{"match": {"body": "data"}}],
                            "filter": [{"range": {"doclen": {"gte": 10}}}]}},
    "bool(range only)": {"bool": {"filter": [{"range": {"doclen": {"gte": 10}}}]}},
    "multi_match": {"multi_match": {"query": "data", "fields": ["body", "path"]}},
    "dis_max": {"dis_max": {"queries": [{"match": {"body": "data"}},
                                        {"match": {"path": "data"}}]}},
    "boosting": {"boosting": {"positive": {"match": {"body": "data"}},
                              "negative": {"match": {"body": "slow"}}}},
    "function_score": {"function_score": {
        "query": {"match": {"body": "data"}},
        "field_value_factor": {"field": "doclen", "modifier": "log1p"}}},
    "script_score": {"script_score": {"query": {"match": {"body": "data"}},
                                      "script": "_score * 2"}},
    "rank_feature": {"rank_feature": {"field": "doclen",
                                      "saturation": {"pivot": 50}}},
    "distance_feature": {"distance_feature": {"field": "doclen", "origin": 50,
                                              "pivot": 10}},
    "span_near": {"span_near": {"clauses": [_span("data"), _span("key")],
                                "slop": 2}},
    "span_first": {"span_first": {"match": _span("data"), "end": 5}},
    "span_not": {"span_not": {"include": _span("data"), "exclude": _span("key")}},
    "span_or": {"span_or": {"clauses": [_span("data"), _span("key")]}},
    "more_like_this": {"more_like_this": {"like": [{"_id": 1}]}},
    "sparse_vector": {"sparse_vector": {"field": "content",
                                        "query_vector": {"data": 1.0}}},
    "pinned": {"pinned": {"ids": [1, 2], "organic": {"match": {"body": "data"}}}},
    "intervals": {"intervals": {"body": {"match": {"query": "data key",
                                                   "max_gaps": 2}}}},
    "constant_score": {"constant_score": {"filter": {"term": {"body": "data"}},
                                          "boost": 2}},
    "ids": {"ids": {"values": [1, 2, 3]}},
    "exists": {"exists": {"field": "path"}},
    "match_all": {"match_all": {}},
    "match_none": {"match_none": {}},
    "range": {"range": {"doclen": {"gte": 10}}},
}

# one valid value per body key
KEYS = {
    "size": 5,
    "from": 2,
    "_source": ["repo"],
    "fields": ["path"],
    "sort": [{"doclen": "asc"}],
    "highlight": {"fields": {"content": {}}},
    "collapse": {"field": "lang"},
    "post_filter": {"range": {"doc_id": {"lt": 100}}},
    "min_score": 0.5,
    "search_after": [0.5, 3],
    "rescore": {"window_size": 50,
                "query": {"rescore_query": {"match": {"body": "key"}}}},
    "explain": True,
}

COLUMNS = [()] + [(k,) for k in KEYS] + list(itertools.combinations(KEYS, 2))


def body(kind: str, keys: tuple) -> dict:
    return {"query": KINDS[kind], **{k: KEYS[k] for k in keys}}


# '.' routes, 'x' raises DslError; one character per COLUMNS cell: no key,
# then each KEYS key, then each pair in itertools.combinations order
EXPECTED: dict[str, str] = {
    "query_string":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "simple_query_string":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "match":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "match_phrase":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "match_phrase_prefix":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "match_bool_prefix":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "term":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "terms":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "terms_set":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "prefix":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "wildcard":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "regexp":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "fuzzy":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "combined_fields":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "bool":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "bool+range":
        "...............................x.xx.......x.......xxx.xxxxx..xxx.xxxx....xxxxxx",
    "bool(range only)":
        "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "multi_match":
        ".....xxx..xxx...xxx..xxx..xxx..xxxxxxx..xxxxxx..xxxxxxxxxxxxxxxxxxxxx.xxxxxxxxx",
    "dis_max":
        ".....xxx..xxx...xxx..xxx..xxx..xxxxxxx..xxxxxx..xxxxxxxxxxxxxxxxxxxxx.xxxxxxxxx",
    "boosting":
        ".....xxx..xxx...xxx..xxx..xxx..xxxxxxx..xxxxxx..xxxxxxxxxxxxxxxxxxxxx.xxxxxxxxx",
    "function_score":
        ".....xxx..xxx...xxx..xxx..xxx..xxxxxxx..xxxxxx..xxxxxxxxxxxxxxxxxxxxx.xxxxxxxxx",
    "script_score":
        ".....xxx..xxx...xxx..xxx..xxx..xxxxxxx..xxxxxx..xxxxxxxxxxxxxxxxxxxxx.xxxxxxxxx",
    "rank_feature":
        ".....xxx..xxx...xxx..xxx..xxx..xxxxxxx..xxxxxx..xxxxxxxxxxxxxxxxxxxxx.xxxxxxxxx",
    "distance_feature":
        ".....xxx..xxx...xxx..xxx..xxx..xxxxxxx..xxxxxx..xxxxxxxxxxxxxxxxxxxxx.xxxxxxxxx",
    "span_near":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "span_first":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "span_not":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "span_or":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "more_like_this":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "sparse_vector":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "pinned":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "intervals":
        ".....xxxx.xxx...xxxx.xxx..xxxx.xxxxxxxx.xxxxxxx.xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "constant_score":
        ".....xxxxxxxx...xxxxxxxx..xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "ids":
        ".....xxxxxxxx...xxxxxxxx..xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "exists":
        ".....xxxxxxxx...xxxxxxxx..xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "match_all":
        ".....xxxxxxxx...xxxxxxxx..xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "match_none":
        ".....xxxxxxxx...xxxxxxxx..xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
    "range":
        ".....xxxxxxxx...xxxxxxxx..xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx",
}


def test_grid_is_complete():
    assert len(COLUMNS) == 1 + 12 + 66
    assert set(EXPECTED) == set(KINDS)
    assert all(len(row) == len(COLUMNS) for row in EXPECTED.values())


def test_every_cell_routes_or_raises_dsl_error(monkeypatch):
    """Each cell's outcome equals the recorded matrix, with pyspark
    unimportable: routing builds no DataFrame and imports no Spark."""
    monkeypatch.setitem(sys.modules, "pyspark", None)
    monkeypatch.setitem(sys.modules, "pyspark.sql", None)
    diffs = []
    for kind, row in EXPECTED.items():
        for keys, want in zip(COLUMNS, row):
            try:
                _route(body(kind, keys))
                got = "."
            except DslError:
                got = "x"
            if got != want:
                diffs.append((kind, keys, want, got))
    assert not diffs, diffs


@pytest.mark.parametrize("kind", ["match", "bool+range", "dis_max", "range"])
def test_route_names_the_executor(kind):
    """A routed cell names one executor of the table; with no route key
    the kind class picks it."""
    assert _route(body(kind, ())).name in {"hits", "filter_only"}
    if kind in ("match", "bool+range"):
        for key in ("explain", "rescore", "search_after", "collapse", "sort",
                    "highlight"):
            assert _route(body(kind, (key,))).name == key


@pytest.mark.parametrize("page", [{"size": None}, {"from": [1]},
                                  {"min_score": "high"}])
def test_malformed_page_values_raise_dsl_error(page, monkeypatch):
    """size, from and min_score are read against their declared types:
    a malformed value raises DslError, not a raw TypeError/ValueError."""
    monkeypatch.setitem(sys.modules, "pyspark", None)
    with pytest.raises(DslError, match=f"_search.{next(iter(page))} must be"):
        _route(body("match", ()) | page)
