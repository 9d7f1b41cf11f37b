"""ES `range` filters, `post_filter`, and collapse `inner_hits` — the
doc-metadata restriction plan (plans/dsl._pop_bool_ranges / _range_doc_ids →
an index copy's `_restrict_docs`, served as per-(shard, slice) allow arrays
by the kernel and as a semi-join by the declarative executor) and the
per_group collapse routing.

Reference parity anchor: the reference restricts match sets with fact rows
ANDed into the plan (inc/BitFunnel/IFactSet.h); a metadata range is the
declarative analogue — a predicate over the narrow doc_stats frame joined
into the scored match set, never a content scan, never a driver-resident
doc array."""

import pytest
from pyspark.sql import functions as F

from bitfunnel_spark.plans.dsl import DslError, count_dsl, search_dsl

# both executors serve the restriction plan; every composed route must give
# the same hits whichever one the caller picks
MODES = ("kernel", "dataframe")


def _range_ids(index, lo=None, hi=None, col="doclen"):
    c = F.col(col)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (c >= lo)
    if hi is not None:
        pred = pred & (c <= hi)
    return {r[0] for r in index.doc_stats.filter(pred).select("doc_id").collect()}


def _full_ranking(index, q):
    return [
        (r.doc_id, r.score)
        for r in index.search(q, k=10**6, mode="dataframe").collect()
    ]


def test_range_in_bool_filter_equals_manual_restriction(index):
    body = {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}},
        "size": 10}
    got = [(r.doc_id, r.score) for r in search_dsl(index, body).collect()]
    ok = _range_ids(index, 40, 200)
    expect = [(d, s) for d, s in _full_ranking(index, "data") if d in ok][:10]
    assert got == expect
    assert got  # the bounds must actually select something at this SF


def test_range_restricts_before_topk(index, duck):
    # the page is the top of the FILTERED set — docs outside the range
    # never crowd the page (filter-then-rank, not rank-then-filter)
    from bitfunnel_spark.plans.dsl import compile_dsl
    from bitfunnel_spark.plans.oracle import oracle_search_sql

    base = _full_ranking(index, "data")
    ok = _range_ids(index, 40, 200)
    excluded_top = [d for d, _ in base[:10] if d not in ok]
    if not excluded_top:
        pytest.skip("top page all inside range at this SF")
    body = {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}},
        "size": 10}
    where = ("h.doc_id IN (SELECT doc_id FROM dl "
             "WHERE doclen >= 40 AND doclen <= 200)")
    oracle = [tuple(r) for r in duck.execute(oracle_search_sql(
        compile_dsl({"match": {"body": "data"}}), k=10,
        extra_where=where)).fetchall()]
    for mode in MODES:
        got = [(r.doc_id, r.score) for r in search_dsl(index, body, mode=mode).collect()]
        got_ids = [d for d, _ in got]
        assert not set(excluded_top) & set(got_ids), mode
        assert len(got_ids) == min(10, len([d for d, _ in base if d in ok])), mode
        assert got == oracle, mode


def test_range_open_bounds_and_doc_id_field(index):
    # one-sided bounds; doc_id/_id field alias; gt/lt strictness
    body = {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"_id": {"lt": 100}}}]}}, "size": 100}
    got = {r.doc_id for r in search_dsl(index, body).collect()}
    assert got == {d for d, _ in _full_ranking(index, "data") if d < 100}
    body2 = {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doc_id": {"gte": 100}}}]}}, "size": 10_000}
    got2 = {r.doc_id for r in search_dsl(index, body2).collect()}
    assert got2 == {d for d, _ in _full_ranking(index, "data") if d >= 100}


def test_multiple_ranges_intersect(index):
    body = {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 30}}},
                   {"range": {"doc_id": {"lt": 250}}}]}}, "size": 10**4}
    got = {r.doc_id for r in search_dsl(index, body).collect()}
    ok = _range_ids(index, lo=30) & {d for d in range(250)}
    assert got == {d for d, _ in _full_ranking(index, "data") if d in ok}


def test_range_composes_with_other_filters_and_from(index):
    # a range alongside a term filter in the same filter list; from+size
    body = {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 20}}},
                   {"term": {"lang": "en"}}]}}, "size": 5, "from": 2}
    got = [(r.doc_id, r.score) for r in search_dsl(index, body).collect()]
    ok = _range_ids(index, lo=20)
    en = {r[0] for r in index.corpus.filter(F.col("lang") == "en")
          .select("doc_id").collect()}
    expect = [(d, s) for d, s in _full_ranking(index, "data #lang:en")
              if d in ok and d in en][2:7]
    assert got == expect


def test_standalone_range_constant_score(index):
    out = search_dsl(
        index, {"query": {"range": {"doclen": {"gte": 40, "lte": 200}}},
                "size": 7}
    ).collect()
    ok = sorted(_range_ids(index, 40, 200))
    assert [r.doc_id for r in out] == ok[:7]
    assert all(r.score == 1.0 for r in out)


def test_count_with_range(index):
    q = {"bool": {"must": [{"match": {"body": "data"}}],
                  "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}}
    n = count_dsl(index, {"query": q}).collect()[0][0]
    ok = _range_ids(index, 40, 200)
    assert n == len([d for d, _ in _full_ranking(index, "data") if d in ok])
    # all-range bool: the restriction alone is the match set
    n2 = count_dsl(
        index, {"query": {"bool": {"filter": [
            {"range": {"doclen": {"gte": 40, "lte": 200}}}]}}}
    ).collect()[0][0]
    assert n2 == len(ok)


def test_post_filter_restricts_hits(index):
    body = {"query": {"match": {"body": "data"}},
            "post_filter": {"range": {"doc_id": {"lt": 120}}}, "size": 8}
    body2 = {"query": {"match": {"body": "data"}},
             "post_filter": {"term": {"lang": "en"}}, "size": 5}
    en = {r[0] for r in index.corpus.filter(F.col("lang") == "en")
          .select("doc_id").collect()}
    expect = [(d, s) for d, s in _full_ranking(index, "data") if d < 120][:8]
    for mode in MODES:
        got = [(r.doc_id, r.score) for r in search_dsl(index, body, mode=mode).collect()]
        assert got == expect, mode
        # post_filter accepts the other filter kinds too (exists/term routes)
        got2 = [r.doc_id for r in search_dsl(index, body2, mode=mode).collect()]
        assert got2 == [d for d, _ in _full_ranking(index, "data") if d in en][:5], mode


def test_post_filter_composes_with_range(index):
    body = {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 20}}}]}},
        "post_filter": {"range": {"doc_id": {"lt": 300}}}, "size": 6}
    ok = _range_ids(index, lo=20)
    expect = [d for d, _ in _full_ranking(index, "data")
              if d in ok and d < 300][:6]
    for mode in MODES:
        got = [r.doc_id for r in search_dsl(index, body, mode=mode).collect()]
        assert got == expect, mode


def test_collapse_inner_hits_per_group(index):
    body = {"query": {"match": {"body": "data"}},
            "collapse": {"field": "repo", "inner_hits": {"size": 2}},
            "size": 50}
    rows = search_dsl(index, body).collect()
    from collections import Counter

    per = Counter(r.repo for r in rows)
    assert per and max(per.values()) <= 2
    # best-2-per-group over the full match set: each group's rows are its
    # two best by (score desc, doc_id asc)
    meta = {r[0]: r[1] for r in index.corpus.select("doc_id", "repo").collect()}
    full = _full_ranking(index, "data")
    best2: dict = {}
    for d, s in full:
        best2.setdefault(meta[d], []).append((d, s))
    for r in rows:
        top2 = [d for d, _ in best2[r.repo][:2]]
        assert r.doc_id in top2


def test_range_rejections(index):
    bads = [
        # range outside filter context (must_not is now the supported
        # negation home — see test_metadata_filters_in_bool)
        ({"query": {"bool": {"must": [{"range": {"doclen": {"gte": 1}}}]}}},
         "bool.filter"),
        ({"query": {"bool": {"should": [{"range": {"doclen": {"gte": 1}}}],
                             "must": [{"match": {"body": "data"}}],
                             "minimum_should_match": 1}}},
         "bool.filter"),
        # bad fields / bounds
        ({"query": {"range": {"content": {"gte": 1}}}}, "range field"),
        ({"query": {"range": {"doclen": {}}}}, "non-empty"),
        ({"query": {"range": {"doclen": {"gte": 1, "gt": 2}}}}, "at most one"),
        ({"query": {"range": {"doclen": {"between": 5}}}},
         "unsupported range options"),
        ({"query": {"range": {"doclen": {"gte": True}}}}, "must be a number"),
        ({"query": {"range": {"doclen": "x"}}}, "non-empty"),
        # all-range bool in _search (counting allows it; ranking needs a query)
        ({"query": {"bool": {"filter": [{"range": {"doclen": {"gte": 1}}}]}}},
         "standalone"),
        # restriction composes with collapse/search_after/sort/highlight
        # (test_range_composes_with_serving_routes), but the mutual
        # exclusions AMONG those four still hold through the fall-through
        ({"query": {"bool": {"must": [{"match": {"body": "data"}}],
                             "filter": [{"range": {"doclen": {"gte": 1}}}]}},
          "sort": [{"doclen": "asc"}],
          "collapse": {"field": "repo"}}, "collapse composes"),
        ({"query": {"bool": {"must": [{"match": {"body": "data"}}],
                             "filter": [{"range": {"doclen": {"gte": 1}}}]}},
          "search_after": [0.5, 3], "highlight": {"fields": {"content": {}}}},
         "search_after composes"),
        # post_filter needs a scoring main query; kernel-pinned
        # combinators reject with a pointed message
        ({"query": {"match_all": {}},
          "post_filter": {"range": {"doc_id": {"lt": 5}}}}, "scoring query"),
        ({"query": {"pinned": {"ids": [1], "organic":
                               {"match": {"body": "data"}}}},
          "post_filter": {"range": {"doc_id": {"lt": 5}}}},
         "kernel-pinned"),
        # inner_hits validation
        ({"query": {"match": {"body": "data"}},
          "collapse": {"field": "repo", "inner_hits": {"size": 0}}},
         "inner_hits.size"),
        ({"query": {"match": {"body": "data"}},
          "collapse": {"field": "repo", "inner_hits": {"from": 1}}},
         "inner_hits takes exactly"),
    ]
    for body, frag in bads:
        with pytest.raises(DslError, match=".*"):
            try:
                search_dsl(index, body)
            except DslError as e:
                assert frag in str(e), (frag, str(e))
                raise


def test_range_tombstones_masked(index, spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    idx2 = FullTextIndex.build(spark, corpus, BuildConfig(n_slices=4))
    victims = sorted(_range_ids(idx2, 40, 200))[:2]
    if not victims:
        pytest.skip("no docs in range at this SF")
    idx2.delete_docs(victims)
    out = {r.doc_id for r in search_dsl(
        idx2, {"query": {"range": {"doclen": {"gte": 40, "lte": 200}}},
               "size": 10_000}).collect()}
    assert not set(victims) & out


def test_match_none_and_strict_body_keys(index):
    # match_none: matches nothing, everywhere it can appear
    assert search_dsl(index, {"query": {"match_none": {}}}).count() == 0
    assert count_dsl(index, {"query": {"match_none": {}}}).collect()[0][0] == 0
    with pytest.raises(DslError, match="no options"):
        search_dsl(index, {"query": {"match_none": {"boost": 2}}})
    # unknown _search body keys reject loudly with pointed routing
    with pytest.raises(DslError, match="run_aggs"):
        search_dsl(index, {"query": {"match": {"body": "data"}},
                           "aggs": {"a": {"terms": {"field": "lang"}}}})
    with pytest.raises(DslError, match="vector_dsl"):
        search_dsl(index, {"query": {"match": {"body": "data"}},
                           "knn": {"field": "embedding"}})
    with pytest.raises(DslError, match="unsupported _search body keys"):
        search_dsl(index, {"query": {"match": {"body": "data"}},
                           "track_total_hits": True})


def test_aggs_compose_with_range_filter(index):
    from bitfunnel_spark.plans.dsl import run_aggs

    Q = {"bool": {"must": [{"match": {"body": "data"}}],
                  "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}}
    ok = _range_ids(index, 40, 200)
    matched = {r[0] for r in index.match("data").collect()} & ok

    out = run_aggs(index, {"query": Q, "aggs":
                           {"by_lang": {"terms": {"field": "lang"}}}}).collect()
    assert sum(r.n_docs for r in out if r.facet == "lang") == len(matched)

    es = run_aggs(index, {"query": Q, "aggs":
                          {"s": {"extended_stats": {"field": "doclen"}}}}
                  ).collect()[0]
    assert es.n_docs == len(matched)

    th = run_aggs(index, {"query": Q, "aggs": {"g": {"terms": {"field": "lang"},
                  "aggs": {"h": {"top_hits": {"size": 2}}}}}}).collect()
    assert th and all(r.doc_id in matched for r in th)

    # global escapes the FULL query context including range filters (ES)
    g = run_aggs(index, {"query": Q, "aggs": {"all": {"global": {}, "aggs":
                 {"s": {"stats": {"field": "doclen"}}}}}}).collect()[0]
    assert g.n_docs == index.corpus.count()


def test_restricted_copy_runs_on_kernel(index):
    import dataclasses

    from bitfunnel_spark.plans.dsl import run_aggs

    # an index copy carrying a doc-metadata restriction is served by both
    # executors: the page is the top of the allowed docs
    ranking = [r.doc_id for r in index.search("data", k=20, mode="dataframe").collect()]
    allowed = ranking[1::2]
    idx2 = dataclasses.replace(index)
    idx2._restrict_docs = index.doc_stats.filter(
        F.col("doc_id").isin(allowed)).select("doc_id")
    for mode in MODES:
        got = [r.doc_id for r in idx2.search("data", k=3, mode=mode).collect()]
        assert got == allowed[:3], mode
    # and run_aggs rejects a pure-range query (no match clause)
    with pytest.raises(DslError, match="match\\s+query alongside|match query"):
        run_aggs(index, {"query": {"bool": {"filter":
                 [{"range": {"doclen": {"gte": 1}}}]}},
                 "aggs": {"t": {"terms": {"field": "lang"}}}})


def test_metadata_filters_in_bool(index):
    # ids / exists in bool.filter; range in must_not (anti-join)
    full = [d for d, _ in _full_ranking(index, "data")]
    got = {r.doc_id for r in search_dsl(index, {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"ids": {"values": [int(d) for d in full[:7]]}}]}},
        "size": 100}).collect()}
    assert got == set(full[:7])

    n_all = len(full)
    got2 = {r.doc_id for r in search_dsl(index, {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"exists": {"field": "lang"}}]}}, "size": 10_000}).collect()}
    assert len(got2) == n_all  # lang always present in this corpus

    got3 = {r.doc_id for r in search_dsl(index, {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "must_not": [{"range": {"doc_id": {"lt": 200}}}]}},
        "size": 10_000}).collect()}
    assert got3 == {d for d in full if d >= 200}

    # mixed: positive range + negated ids
    ban = [int(d) for d in full[:3]]
    got4 = [r.doc_id for r in search_dsl(index, {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 20}}}],
        "must_not": [{"ids": {"values": ban}}]}}, "size": 10_000}).collect()]
    ok = _range_ids(index, lo=20)
    assert got4 == [d for d in full if d in ok and d not in ban]

    # must_not text clause still compiles through the AST alongside
    got5 = {r.doc_id for r in search_dsl(index, {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "must_not": [{"term": {"body": "slow"}}],
        "filter": [{"range": {"doc_id": {"lt": 300}}}]}},
        "size": 10_000}).collect()}
    slow = {r[0] for r in index.match("slow").collect()}
    assert got5 == {d for d in full if d < 300 and d not in slow}

    # _count with only a must_not metadata clause (doc_stats base)
    n = count_dsl(index, {"query": {"bool": {
        "must_not": [{"range": {"doc_id": {"gte": 100}}}]}}}).collect()[0][0]
    assert n == 100


# --- restriction × serving-route composition (range/post_filter alongside
# collapse / search_after / sort / highlight) ---------------------------------

_RANGE_BODY = {"bool": {"must": [{"match": {"body": "data"}}],
                        "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}}


def _meta(index, col):
    return {r[0]: r[1] for r in index.corpus.select("doc_id", col).collect()}


def test_range_composes_with_collapse(index):
    ok = _range_ids(index, 40, 200)
    repo = _meta(index, "repo")
    restricted = [(d, s) for d, s in _full_ranking(index, "data") if d in ok]
    best, seen = [], set()
    for d, s in restricted:  # (score desc, doc_id asc): first hit per repo wins
        if repo[d] not in seen:
            seen.add(repo[d])
            best.append((d, s, repo[d]))
    expect = best[:5]
    for mode in MODES:
        got = [(r.doc_id, r.score, r.repo) for r in search_dsl(
            index, {"query": _RANGE_BODY, "collapse": {"field": "repo"},
                    "size": 5}, mode=mode).collect()]
        assert got == expect, mode
    # every collapsed hit obeys the range
    assert got and all(d in ok for d, _, _ in got)
    # and the restriction actually changed at least one group winner vs
    # the unrestricted collapse — otherwise this test isn't exercising
    # the composition (skip if the corpus is too uniform at this SF)
    unres = [(r.doc_id, r.score, r.repo) for r in search_dsl(
        index, {"query": {"match": {"body": "data"}},
                "collapse": {"field": "repo"}, "size": 5}).collect()]
    if unres == expect:
        pytest.skip("restriction changes no group winner at this SF")
    assert got != unres


def test_range_composes_with_collapse_inner_hits(index):
    ok = _range_ids(index, 40, 200)
    repo = _meta(index, "repo")
    restricted = [(d, s) for d, s in _full_ranking(index, "data") if d in ok]
    per, expect = {}, []
    for d, s in restricted:
        if per.setdefault(repo[d], 0) < 2:
            per[repo[d]] += 1
            expect.append((d, s, repo[d]))
    for mode in MODES:
        got = [(r.doc_id, r.score, r.repo) for r in search_dsl(
            index, {"query": _RANGE_BODY,
                    "collapse": {"field": "repo", "inner_hits": {"size": 2}},
                    "size": 8}, mode=mode).collect()]
        assert got == expect[:8], mode


def test_range_composes_with_search_after(index):
    ok = _range_ids(index, 40, 200)
    restricted = [(d, s) for d, s in _full_ranking(index, "data") if d in ok]
    if len(restricted) < 6:
        pytest.skip("not enough restricted matches at this SF")
    for mode in MODES:
        p1 = [(r.doc_id, r.score) for r in search_dsl(
            index, {"query": _RANGE_BODY, "size": 3}, mode=mode).collect()]
        cursor = [p1[-1][1], p1[-1][0]]
        p2 = [(r.doc_id, r.score) for r in search_dsl(
            index, {"query": _RANGE_BODY, "search_after": cursor,
                    "size": 3}, mode=mode).collect()]
        # pages exactly partition the RESTRICTED ranking — the cursor
        # never resurrects out-of-range docs
        assert p1 + p2 == restricted[:6], mode


def test_range_composes_with_sort(index):
    ok = _range_ids(index, 40, 200)
    matched = {r.doc_id for r in index.match("data").collect()}
    dl = {r.doc_id: r.doclen
          for r in index.doc_stats.select("doc_id", "doclen").collect()}
    expect = sorted(((dl[d], d) for d in matched & ok))[:5]
    for mode in MODES:
        got = [(r.doclen, r.doc_id) for r in search_dsl(
            index, {"query": _RANGE_BODY, "sort": [{"doclen": "asc"}],
                    "size": 5}, mode=mode).collect()]
        assert got == [(l, d) for l, d in expect], mode
        assert all(40 <= l <= 200 for l, _ in got), mode


def test_range_composes_with_highlight(index):
    ok = _range_ids(index, 40, 200)
    restricted = [(d, s) for d, s in _full_ranking(index, "data") if d in ok]
    body = {"query": _RANGE_BODY,
            "highlight": {"fields": {"content": {}}}, "size": 5}
    # snippets depend on the doc and the (full-index) term stats only, so
    # the restricted snippet equals the unrestricted one for the same doc
    base = {r.doc_id: r.snippet for r in search_dsl(
        index, {"query": {"match": {"body": "data"}},
                "highlight": {"fields": {"content": {}}},
                "size": 10_000}).collect()}
    for mode in MODES:
        rows = search_dsl(index, body, mode=mode).collect()
        assert [(r.doc_id, r.score) for r in rows] == restricted[:5], mode
        assert all(r.snippet == base[r.doc_id] for r in rows), mode
        assert any(r.snippet for r in rows), mode


def test_post_filter_composes_with_collapse(index):
    pf_ids = {r.doc_id for r in index.corpus.filter(
        F.col("doc_id") < 150).select("doc_id").collect()}
    repo = _meta(index, "repo")
    restricted = [(d, s) for d, s in _full_ranking(index, "data")
                  if d in pf_ids]
    best, seen = [], set()
    for d, s in restricted:
        if repo[d] not in seen:
            seen.add(repo[d])
            best.append((d, s, repo[d]))
    for mode in MODES:
        got = [(r.doc_id, r.score, r.repo) for r in search_dsl(
            index, {"query": {"match": {"body": "data"}},
                    "post_filter": {"range": {"doc_id": {"lt": 150}}},
                    "collapse": {"field": "repo"}, "size": 5},
            mode=mode).collect()]
        assert got == best[:5], mode


def test_restriction_composes_with_declarative_combinators(index):
    # post_filter on dis_max / function_score / boosting: the combinator
    # executor rides the ambient restriction — results equal the
    # unrestricted combinator ranking filtered to the allowed ids
    from bitfunnel_spark.plans.dsl import search_dsl

    pf = {"range": {"doc_id": {"lt": 200}}}
    bodies = [
        {"dis_max": {"queries": [{"query_string": "data"},
                                 {"query_string": "fast"}],
                     "tie_breaker": 0.3}},
        {"function_score": {"query": {"match": {"body": "data"}},
                            "field_value_factor": {"field": "doclen",
                                                   "modifier": "log1p"}}},
        {"boosting": {"positive": {"query_string": "data"},
                      "negative": {"query_string": "slow"},
                      "negative_boost": 0.4}},
    ]
    for q in bodies:
        full = [(r.doc_id, r.score) for r in search_dsl(
            index, {"query": q, "size": 10_000}).collect()]
        got = [(r.doc_id, r.score) for r in search_dsl(
            index, {"query": q, "post_filter": pf, "size": 8}).collect()]
        expect = [(d, s) for d, s in full if d < 200][:8]
        assert got == expect and got, q


def test_post_filter_rank_and_distance_feature_standalone(index):
    # the standalone (query-less) rank_feature / distance_feature scans
    # must honor the restriction — a silently-ignored post_filter is the
    # failure mode the body-key validation exists to prevent
    pf = {"range": {"doc_id": {"lt": 150}}}
    for q in [
        {"rank_feature": {"field": "doclen", "saturation": {"pivot": 50}}},
        {"distance_feature": {"field": "doclen", "origin": 100,
                              "pivot": 10}},
    ]:
        full = search_dsl(index, {"query": q, "size": 10_000}).collect()
        expect = [(r.doc_id, r.score) for r in full if r.doc_id < 150]
        for mode in MODES:
            got = search_dsl(index, {"query": q, "post_filter": pf,
                                     "size": 10_000}, mode=mode).collect()
            assert [(r.doc_id, r.score) for r in got] == expect and got, (q, mode)
            assert len(got) < len(full)  # the restriction actually cut docs


def test_rescore_modes_agree(index):
    # the rescore window cut runs on the caller's executor; both give the
    # same hits, with and without a range filter
    rescore = {"window_size": 15, "query": {
        "rescore_query": {"match": {"content": "fast"}},
        "query_weight": 0.7, "rescore_query_weight": 1.2}}
    for query in ({"match": {"body": "data"}}, _RANGE_BODY):
        body = {"query": query, "rescore": rescore, "size": 6}
        got = {mode: [(r.doc_id, r.score) for r in
                      search_dsl(index, body, mode=mode).collect()]
               for mode in MODES}
        assert got["kernel"] == got["dataframe"] and got["kernel"], query
