"""Property fuzz for the restriction × serving-route composition surface.

The late-round-5 tail let the doc-metadata restriction plan (range
filters in bool.filter, post_filter) compose with collapse /
search_after / sort / highlight / rescore / explain and with the
declarative combinator kinds. Example tests landed with the features;
this module re-derives each composition's contract as a property over
randomized (query, bounds) workloads sampled from the index's own
vocabulary, mirroring test_fuzz_r05_surface.py's discipline.

The shared oracle for every property is driver-side recomputation from
TWO independently-verified primitives: the plain ranking of the
declarative reference executor (plans/executor.py) and a collected
metadata map — never the code path under test.
"""

from __future__ import annotations

import pytest

from bitfunnel_spark.plans.dsl import DslError, search_dsl
from bitfunnel_spark.plans.generator import generate_queries
from tests.conftest import reference_match, reference_search


def _rows(df):
    return [(r["doc_id"], round(r["score"], 4)) for r in df.collect()]


def _workloads(index, seeds=(7, 31)):
    """(terms, allowed-doc-id set, range bounds) triples; bounds vary by
    position so different selectivities are exercised."""
    stats = {r["doc_id"]: r["doclen"]
             for r in index.doc_stats.select("doc_id", "doclen").collect()}
    dls = sorted(stats.values())
    n = len(dls)
    menu = [
        {"gte": dls[n // 4], "lte": dls[3 * n // 4]},
        {"gte": dls[n // 8]},
        {"lte": dls[n // 2]},
    ]
    out = []
    for seed in seeds:
        for qi, q in enumerate(generate_queries(index.term_stats, 3, 2,
                                                seed=seed)):
            terms = q.split()
            if not all(t.isalnum() for t in terms):
                continue
            bounds = menu[(seed + qi) % len(menu)]
            ok = {d for d, v in stats.items()
                  if ("gte" not in bounds or v >= bounds["gte"])
                  and ("lte" not in bounds or v <= bounds["lte"])}
            out.append((terms, ok, bounds))
    assert len(out) >= min(4, 3 * len(seeds))
    return out


def _range_body(terms, bounds):
    return {"bool": {"must": [{"match": {"body": " ".join(terms)}}],
                     "filter": [{"range": {"doclen": bounds}}]}}


def _base(index, terms):
    return _rows(reference_search(index, " | ".join(terms), k=10_000))


def test_restricted_collapse_fuzz(index):
    """Property: restricted collapse == (filter the full ranking by the
    bounds) -> best-per-group in ranking order -> top-k, for per_group
    1 and 2."""
    repo = {r[0]: r[1]
            for r in index.corpus.select("doc_id", "repo").collect()}
    for terms, ok, bounds in _workloads(index):
        restricted = [(d, s) for d, s in _base(index, terms) if d in ok]
        for per in (1, 2):
            cnt: dict = {}
            expect = []
            for d, s in restricted:
                if cnt.setdefault(repo[d], 0) < per:
                    cnt[repo[d]] += 1
                    expect.append((d, s))
            collapse = {"field": "repo"}
            if per > 1:
                collapse["inner_hits"] = {"size": per}
            got = _rows(search_dsl(index, {
                "query": _range_body(terms, bounds),
                "collapse": collapse, "size": 6}).select("doc_id", "score"))
            assert got == expect[:6], (terms, bounds, per)


def test_restricted_search_after_fuzz(index):
    """Property: pages fetched through restricted search_after cursors
    exactly partition the restricted ranking at every cursor depth."""
    cases = 0
    for terms, ok, bounds in _workloads(index):
        restricted = [(d, s) for d, s in _base(index, terms) if d in ok]
        if len(restricted) < 7:
            continue
        pages, cursor = [], None
        for _ in range(3):
            body = {"query": _range_body(terms, bounds), "size": 2}
            if cursor is not None:
                body["search_after"] = [cursor[1], cursor[0]]
            page = _rows(search_dsl(index, body))
            assert page, (terms, bounds)
            pages.extend(page)
            cursor = page[-1]
        assert pages == restricted[:6], (terms, bounds)
        cases += 1
    assert cases >= 2


def test_restricted_sort_and_highlight_fuzz(index):
    """Properties: restricted sort == the restricted match set ordered by
    the field (score never consulted); restricted highlight == the
    restricted ranking page, each snippet identical to the unrestricted
    snippet for the same doc (snippets depend on the doc + full-index
    stats only)."""
    stats = {r["doc_id"]: r["doclen"]
             for r in index.doc_stats.select("doc_id", "doclen").collect()}
    for terms, ok, bounds in _workloads(index, seeds=(13,)):
        matched = {r["doc_id"] for r in
                   reference_match(index, " | ".join(terms)).collect()}
        expect = sorted(((stats[d], d) for d in matched & ok))[:5]
        got = [(r["doclen"], r["doc_id"]) for r in search_dsl(index, {
            "query": _range_body(terms, bounds),
            "sort": [{"doclen": "asc"}], "size": 5}).collect()]
        assert got == expect, (terms, bounds)

        restricted = [(d, s) for d, s in _base(index, terms) if d in ok]
        rows = search_dsl(index, {
            "query": _range_body(terms, bounds),
            "highlight": {"fields": {"content": {}}}, "size": 5}).collect()
        assert [(r["doc_id"], round(r["score"], 4)) for r in rows] \
            == restricted[:5], (terms, bounds)
        base_snip = {r["doc_id"]: r["snippet"] for r in search_dsl(index, {
            "query": {"match": {"body": " ".join(terms)}},
            "highlight": {"fields": {"content": {}}},
            "size": 10_000}).collect()}
        assert all(r["snippet"] == base_snip[r["doc_id"]] for r in rows)


def test_restricted_rescore_and_explain_fuzz(index):
    """Properties: restricted rescore == manual blend over the restricted
    window (total mode, weights 1); restricted explain's doc set is the
    restricted top-k and contributions sum to each score."""
    for terms, ok, bounds in _workloads(index, seeds=(19,)):
        restricted = [(d, s) for d, s in _base(index, terms) if d in ok]
        window = restricted[:10]
        sec = {d: s for d, s in _base(index, [terms[0]])}
        blend = sorted(((round(p + sec.get(d, 0.0), 4), -d)
                        for d, p in window), reverse=True)
        got = _rows(search_dsl(index, {
            "query": _range_body(terms, bounds),
            "rescore": {"window_size": 10, "query": {
                "rescore_query": {"match": {"body": terms[0]}}}},
            "size": 5}))
        assert got == [(-nd, s) for s, nd in blend][:5], (terms, bounds)

        rows = search_dsl(index, {
            "query": _range_body(terms, bounds),
            "explain": True, "size": 5}).collect()
        assert {r["doc_id"] for r in rows} \
            == {d for d, _ in restricted[:5]}, (terms, bounds)
        per: dict = {}
        score = {}
        for r in rows:
            per[r["doc_id"]] = per.get(r["doc_id"], 0.0) + r["contribution"]
            score[r["doc_id"]] = r["score"]
        for d in per:
            assert abs(per[d] - score[d]) < 5e-4, (terms, d)


def test_route_mutual_exclusions_always_dsl_errors(index):
    """Closure: any body combining two mutually-exclusive routes on top
    of a restriction raises DslError — never a Spark analysis error, a
    KeyError, or silence."""
    q = _range_body(["data"], {"gte": 10})
    routes = {
        "collapse": {"field": "repo"},
        "search_after": [0.5, 3],
        "sort": [{"doclen": "asc"}],
        "highlight": {"fields": {"content": {}}},
        "rescore": {"query": {"rescore_query": {"match": {"body": "x"}}}},
        "explain": True,
    }
    import itertools

    for a, b in itertools.combinations(routes, 2):
        body = {"query": q, a: routes[a], b: routes[b]}
        with pytest.raises(DslError):
            search_dsl(index, body)
