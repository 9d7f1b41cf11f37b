"""Property fuzz for the late-round-5 search-body surface.

The round-5 tail (integer minimum_should_match, search_after body
routing, per-body _msearch sizes, _terms_enum) landed with example
tests; this module re-derives each feature's contract as a property over
randomized workloads sampled from the index's own vocabulary — the same
verify-log discipline test_fuzz_parity.py applies to the core executors.

Properties:
- minimum_should_match=m over terms T is EXACTLY the plain-OR result
  restricted to docs matching >= m distinct terms of T (the floor changes
  candidacy, never scores);
- a search_after page fetched through the _search body is EXACTLY the
  next k rows of the deeper plain search (pages partition the ranking);
- _msearch with per-body sizes is row-identical to running every body
  individually at its own size;
- _terms_enum agrees with a driver-side scan of the collected dictionary.
"""

from __future__ import annotations

import pytest

from bitfunnel_spark.plans.dsl import compile_dsl, msearch, search_dsl
from bitfunnel_spark.plans.generator import generate_queries
from bitfunnel_spark.plans.serving import terms_enum
from tests.conftest import reference_match, reference_search


def _rows(df):
    return [(r["doc_id"], round(r["score"], 4)) for r in df.collect()]


def _match_counts(index, terms):
    """doc_id -> how many of `terms` it matches (driver-side, test scale)."""
    counts: dict[int, int] = {}
    for t in terms:
        for r in reference_match(index, t).select("doc_id").collect():
            counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
    return counts


def test_minimum_should_match_is_or_with_a_count_floor(index):
    for seed in (3, 17):
        for q in generate_queries(index.term_stats, 4, 3, seed=seed):
            terms = q.split()
            # re-analysis must keep each sampled token whole: skip the
            # rare vocab term the tokenizer would re-split
            if len(set(terms)) != 3 or not all(t.isalnum() for t in terms):
                continue
            counts = _match_counts(index, terms)
            big = max(len(counts), 1) + 5  # k past every candidate
            or_rows = _rows(search_dsl(
                index, {"query": {"match": {"body": " ".join(terms)}}}, k=big
            ))
            for msm in (1, 2, 3):
                got = _rows(search_dsl(
                    index,
                    {"query": {"match": {"body": {
                        "query": " ".join(terms),
                        "minimum_should_match": msm,
                    }}}},
                    k=big,
                ))
                want = [(d, s) for d, s in or_rows if counts[d] >= msm]
                assert got == want, (q, msm)


def test_minimum_should_match_mode_parity(index):
    for q in generate_queries(index.term_stats, 3, 3, seed=29):
        body = {"query": {"match": {"body": {
            "query": q, "minimum_should_match": 2,
        }}}}
        a = _rows(search_dsl(index, body, k=10))
        b = _rows(reference_search(index, compile_dsl(body["query"]), k=10))
        assert a == b, q


def test_search_after_body_pages_partition_the_ranking(index):
    k = 5
    for q in generate_queries(index.term_stats, 5, 2, seed=41):
        body = {"query": {"query_string": q}, "size": k}
        page1 = _rows(search_dsl(index, body))
        deep = _rows(search_dsl(index, {"query": {"query_string": q},
                                        "size": 2 * k}))
        assert page1 == deep[:len(page1)], q
        if len(page1) < k:
            continue  # ranking exhausted on page 1
        last_doc, last_score = page1[-1]
        cursor = [last_score, last_doc]
        page2 = _rows(search_dsl(index, {**body, "search_after": cursor}))
        assert page1 + page2 == deep, q


def test_msearch_per_body_sizes_match_individual_searches(index):
    queries = generate_queries(index.term_stats, 6, 2, seed=53)
    sizes = [1 + (i * 3) % 7 for i in range(len(queries))]  # 1..7, varied
    bodies = [{"query": {"query_string": q}, "size": s}
              for q, s in zip(queries, sizes)]
    got = msearch(index, bodies)
    by_qid: dict[int, list] = {}
    for r in got.orderBy("query_id", got.score.desc(), "doc_id").collect():
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 4)))
    for i, (q, s) in enumerate(zip(queries, sizes)):
        want = _rows(index.search(q, k=s))
        assert by_qid.get(i, []) == want, (i, q, s)


@pytest.fixture(scope="module")
def body_vocab(index):
    return sorted(
        r["term"] for r in
        index.term_stats.filter("stream = 'body'").select("term").collect()
    )


def test_terms_enum_fuzzed_prefixes(index, body_vocab):
    prefixes = sorted({t[:2] for t in body_vocab})[::7][:8] + [""]
    for p in prefixes:
        got = [r["term"] for r in terms_enum(index, p, size=9).collect()]
        want = [t for t in body_vocab if t.startswith(p)][:9]
        assert got == want, p


def test_terms_enum_case_insensitive_covers_cased_terms(index, body_vocab):
    # path/repo streams keep case; body is lowercased — exercise the
    # lower() scan on the path stream where mixed case actually exists.
    path_vocab = sorted(
        r["term"] for r in
        index.term_stats.filter("stream = 'path'").select("term").collect()
    )
    cased = [t for t in path_vocab if t.lower() != t]
    if not cased:
        pytest.skip("no mixed-case path terms at this SF")
    p = cased[0][:3]
    got = [r["term"] for r in
           terms_enum(index, p.lower(), size=50, field="path",
                      case_insensitive=True).collect()]
    want = sorted(t for t in path_vocab if t.lower().startswith(p.lower()))[:50]
    assert got == want


def test_range_filter_is_manual_restriction_fuzz(index):
    """Property: a range filter in bool.filter over randomized
    (query, bounds) is EXACTLY the plain ranking restricted to the docs
    whose metadata satisfies the bounds (filter changes candidacy, never
    scores), for every bound shape (two-sided/one-sided, strict/inclusive)
    and both fields."""
    from pyspark.sql import functions as F

    from bitfunnel_spark.plans.generator import generate_queries

    stats = {r["doc_id"]: r["doclen"]
             for r in index.doc_stats.select("doc_id", "doclen").collect()}
    dls = sorted(stats.values())
    n = len(dls)
    cases = 0
    for seed in (5, 23):
        for qi, q in enumerate(generate_queries(index.term_stats, 3, 2, seed=seed)):
            terms = q.split()
            if not all(t.isalnum() for t in terms):
                continue
            # DSL match defaults to OR — the query-string parser's space
            # is AND, so the unfiltered base must be the OR ranking
            base = _rows(reference_search(index, " | ".join(terms), k=10_000))
            # deterministic bound menu spanning empty/partial/full selections
            menu = [
                ("doclen", {"gte": dls[n // 4], "lte": dls[3 * n // 4]}),
                ("doclen", {"gt": dls[n // 2]}),
                ("doclen", {"lt": dls[n // 4]}),
                ("doclen", {"gte": dls[-1] + 1}),          # empty
                ("doc_id", {"gte": 100 + 37 * qi, "lt": 400}),
            ]
            field, bounds = menu[(seed + qi) % len(menu)]

            def keep(d):
                v = stats[d] if field == "doclen" else d
                return (("gte" not in bounds or v >= bounds["gte"])
                        and ("gt" not in bounds or v > bounds["gt"])
                        and ("lte" not in bounds or v <= bounds["lte"])
                        and ("lt" not in bounds or v < bounds["lt"]))

            body = {"query": {"bool": {
                "must": [{"match": {"body": " ".join(terms)}}],
                "filter": [{"range": {field: bounds}}]}},
                "size": 10_000}
            got = _rows(search_dsl(index, body))
            expect = [(d, s) for d, s in base if keep(d)]
            assert got == expect, (terms, field, bounds)
            # _count agrees with the ranking's cardinality
            from bitfunnel_spark.plans.dsl import count_dsl

            assert count_dsl(index, {"query": body["query"]}).collect()[0][0] \
                == len(expect)
            cases += 1
    assert cases >= 4


def test_post_filter_equals_filter_for_hits_fuzz(index):
    """Property: for the hits list, post_filter(range) is row-identical to
    the same range in bool.filter (the distinction — aggs visibility —
    lives in run_aggs, which never sees either)."""
    from bitfunnel_spark.plans.generator import generate_queries

    for seed in (11,):
        for q in generate_queries(index.term_stats, 3, 2, seed=seed):
            terms = q.split()
            if not all(t.isalnum() for t in terms):
                continue
            bounds = {"gte": 20, "lte": 90}
            a = _rows(search_dsl(index, {
                "query": {"bool": {"must": [{"match": {"body": " ".join(terms)}}],
                                   "filter": [{"range": {"doclen": bounds}}]}},
                "size": 50}))
            b = _rows(search_dsl(index, {
                "query": {"match": {"body": " ".join(terms)}},
                "post_filter": {"range": {"doclen": bounds}},
                "size": 50}))
            assert a == b, terms
