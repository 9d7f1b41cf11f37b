"""Serving-layer operators (plans/serving.py) vs DuckDB oracles: facet
counts over match sets, token-window snippets, more-like-this."""

import pytest

from bitfunnel_spark.plans import serving
from bitfunnel_spark.plans.oracle import (
    oracle_collapse_sql,
    oracle_explain_sql,
    oracle_facet_stats_sql,
    oracle_facets_sql,
    oracle_hybrid_sql,
    oracle_mlt_sql,
    oracle_snippets_sql,
)
from tests.conftest import reference_search

FACET_QUERIES = ["(dup | vector) join", "data", "lang:en data", "data -slow"]


@pytest.mark.parametrize("q", FACET_QUERIES)
def test_facets_vs_oracle(index, duck, q):
    got = [
        (r["facet"], r["value"], r["n_docs"])
        for r in serving.facet_counts(index, q).collect()
    ]
    exp = duck.execute(oracle_facets_sql(q)).fetchall()
    assert sorted(got) == sorted(exp), f"facet mismatch for {q!r}"
    # counts per facet must each sum to the match-set size
    n_match = index.match(q).count()
    for facet in ("lang", "repo"):
        assert sum(n for f, _, n in got if f == facet) == n_match


SNIPPET_QUERIES = ["spark & join", "dup | vector", "data -slow", "lang:en data"]


@pytest.mark.parametrize("q", SNIPPET_QUERIES)
def test_snippets_vs_oracle(index, duck, q):
    got = [
        (r["doc_id"], r["score"], r["snippet"])
        for r in serving.snippets(index, q, k=10, window=4).collect()
    ]
    exp = [
        (d, pytest.approx(s, abs=2e-4), sn)
        for d, s, sn in duck.execute(oracle_snippets_sql(q, k=10, window=4)).fetchall()
    ]
    assert exp == got, f"snippet mismatch for {q!r}"


def test_snippet_contains_term(index):
    rows = serving.snippets(index, "vector", k=5, window=3).collect()
    assert rows
    for r in rows:
        assert "vector" in r["snippet"].split()
        # window bound: at most 2*3+1 tokens
        assert len(r["snippet"].split()) <= 7


@pytest.mark.parametrize("doc_id", [0, 7, 123])
def test_more_like_this_vs_oracle(index, duck, doc_id):
    got = [
        (r["doc_id"], r["score"])
        for r in serving.more_like_this(index, doc_id, k=10, m=8).collect()
    ]
    exp = [
        (d, pytest.approx(s, abs=2e-4))
        for d, s in duck.execute(oracle_mlt_sql(doc_id, k=10, m=8)).fetchall()
    ]
    assert exp == got, f"mlt mismatch for doc {doc_id}"
    assert doc_id not in [d for d, _ in got]


def test_more_like_this_missing_doc(index):
    assert serving.more_like_this(index, 10**9, k=5).count() == 0


COLLAPSE_QUERIES = ["data", "(dup | vector) join", "data -slow", "lang:en data"]


@pytest.mark.parametrize("q", COLLAPSE_QUERIES)
def test_collapse_vs_oracle(index, duck, q):
    got = [
        (r["doc_id"], r["score"], r["repo"])
        for r in serving.collapse_topk(index, q, by="repo", k=10).collect()
    ]
    exp = [
        (d, pytest.approx(s, abs=2e-4), g)
        for d, s, g in duck.execute(oracle_collapse_sql(q, by="repo", k=10)).fetchall()
    ]
    assert exp == got, f"collapse mismatch for {q!r}"
    # one doc per group, and each group's doc is its argmax
    assert len({g for _, _, g in got}) == len(got)


def test_collapse_per_group_2_vs_oracle(index, duck):
    q = "data"
    got = [
        (r["doc_id"], r["score"], r["repo"])
        for r in serving.collapse_topk(index, q, by="repo", k=10, per_group=2).collect()
    ]
    exp = [
        (d, pytest.approx(s, abs=2e-4), g)
        for d, s, g in duck.execute(
            oracle_collapse_sql(q, by="repo", k=10, per_group=2)
        ).fetchall()
    ]
    assert exp == got
    from collections import Counter

    assert max(Counter(g for _, _, g in got).values()) <= 2


TOP_HITS_CASES = [("data", "lang", 3), ("(dup | vector) join", "repo", 2),
                  ("data -slow", "lang", 1)]


@pytest.mark.parametrize("q,by,pg", TOP_HITS_CASES)
def test_top_hits_vs_oracle(index, duck, q, by, pg):
    from bitfunnel_spark.plans.oracle import oracle_top_hits_sql

    got = [
        (r[by], r["n_docs"], r["hit_rank"], r["doc_id"], r["score"])
        for r in serving.top_hits(index, q, by=by, per_group=pg).collect()
    ]
    exp = [
        (v, n, rk, d, pytest.approx(s, abs=2e-4))
        for v, n, rk, d, s in duck.execute(
            oracle_top_hits_sql(q, by=by, per_group=pg)
        ).fetchall()
    ]
    assert exp == got, f"top_hits mismatch for {q!r}"


def test_top_hits_covers_every_bucket(index):
    # unlike collapse, EVERY bucket in the match set appears; counts sum to
    # the match-set size and per-bucket hits are capped at per_group
    from collections import Counter

    q = "data"
    rows = serving.top_hits(index, q, by="repo", per_group=2).collect()
    buckets = (
        index.corpus.select("doc_id", "repo")
        .join(index.match(q), "doc_id")
        .select("repo").distinct().count()
    )
    per = Counter(r["repo"] for r in rows)
    assert len(per) == buckets
    assert max(per.values()) <= 2
    n_match = index.match(q).count()
    assert sum({r["repo"]: r["n_docs"] for r in rows}.values()) == n_match


@pytest.mark.parametrize("q,by,of", [("data", "lang", "repo"),
                                     ("(dup | vector) join", "repo", "lang"),
                                     ("data -slow", "lang", "repo")])
def test_cardinality_vs_oracle(index, duck, q, by, of):
    from bitfunnel_spark.plans.oracle import oracle_cardinality_sql

    got = [tuple(r) for r in serving.facet_cardinality(index, q, by=by, of=of).collect()]
    exp = duck.execute(oracle_cardinality_sql(q, by=by, of=of)).fetchall()
    assert exp == got, f"cardinality mismatch for {q!r}"
    assert got and all(c <= n for _, n, c in got)


def test_cardinality_approx_close(index):
    # HLL++ scale path: within rsd-ish of exact on every bucket
    q = "data"
    exact = {r[0]: r[2] for r in serving.facet_cardinality(index, q).collect()}
    approx = {
        r[0]: r[2]
        for r in serving.facet_cardinality(index, q, exact=False, rsd=0.05).collect()
    }
    assert set(exact) == set(approx)
    for v, c in exact.items():
        assert abs(approx[v] - c) <= max(2, 0.15 * c), (v, c, approx[v])


@pytest.mark.parametrize("q,by,asc", [("data", "doclen", False),
                                      ("data -slow", "doclen", True),
                                      ("(dup | vector) join", "repo", False),
                                      ("data #fast", "doclen", False)])
def test_sort_hits_vs_oracle(index, duck, q, by, asc):
    from bitfunnel_spark.plans.oracle import oracle_sort_hits_sql

    got = [tuple(r) for r in serving.sort_hits(index, q, by=by, ascending=asc, k=10).collect()]
    exp = duck.execute(oracle_sort_hits_sql(q, by=by, ascending=asc, k=10)).fetchall()
    assert exp == got, f"sort_hits mismatch for {q!r}"
    assert got


def test_sort_hits_plan_is_take_ordered(index):
    df = serving.sort_hits(index, "data", by="doclen", k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a full sort


@pytest.mark.parametrize("q,mod,bmode,factor", [
    ("data", "log1p", "multiply", 1.0),
    ("data -slow", "ln1p", "sum", 2.0),
    ("(dup | vector) join", "sqrt", "multiply", 0.5),
    ("data", "none", "replace", 1.0),
    ("data #fast", "square", "multiply", 0.1),
])
def test_function_score_vs_oracle(index, duck, q, mod, bmode, factor):
    from bitfunnel_spark.plans.oracle import oracle_function_score_sql

    got = [tuple(r) for r in serving.function_score(
        index, q, modifier=mod, factor=factor, boost_mode=bmode, k=10).collect()]
    exp = duck.execute(oracle_function_score_sql(
        q, modifier=mod, factor=factor, boost_mode=bmode, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got, f"function_score mismatch {q!r}"
    assert got


def test_function_score_full_match_not_topk_rescore(index):
    # a doc OUTSIDE the bm25 top-10 must be able to win under replace:
    # ranking by doclen alone equals sort_hits by doclen
    fs = [r.doc_id for r in serving.function_score(
        index, "data", modifier="none", boost_mode="replace", k=5).collect()]
    srt = [r.doc_id for r in serving.sort_hits(index, "data", by="doclen", k=5).collect()]
    assert fs == srt


def test_function_score_validates_args(index):
    with pytest.raises(ValueError):
        serving.function_score(index, "data", modifier="cube")
    with pytest.raises(ValueError):
        serving.function_score(index, "data", boost_mode="avg")


@pytest.mark.parametrize("q,kind,bmode,origin,scale,offset,decay", [
    ("data", "gauss", "multiply", 40.0, 20.0, 0.0, 0.5),
    ("data -slow", "exp", "multiply", 30.0, 15.0, 5.0, 0.5),
    ("(dup | vector) join", "linear", "sum", 50.0, 25.0, 0.0, 0.3),
    ("data", "gauss", "replace", 40.0, 10.0, 2.0, 0.6),
])
def test_decay_score_vs_oracle(index, duck, q, kind, bmode, origin, scale, offset, decay):
    from bitfunnel_spark.plans.oracle import oracle_decay_score_sql

    got = [tuple(r) for r in serving.decay_score(
        index, q, origin=origin, scale=scale, kind=kind, offset=offset,
        decay=decay, boost_mode=bmode, k=10).collect()]
    exp = duck.execute(oracle_decay_score_sql(
        q, origin=origin, scale=scale, kind=kind, offset=offset,
        decay=decay, boost_mode=bmode, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got, f"decay mismatch {q!r} {kind}"
    assert got


def test_decay_at_origin_keeps_score(index):
    # a doc whose doclen equals origin gets multiplier 1.0 == bm25 score
    row = index.doc_stats.select("doc_id", "doclen").first()
    base = {r.doc_id: r.score for r in index.search("data", k=1000).collect()}
    dec = {r.doc_id: r.score for r in serving.decay_score(
        index, "data", origin=float(row.doclen), scale=10.0, k=1000).collect()}
    if row.doc_id in base and row.doc_id in dec:
        assert abs(dec[row.doc_id] - base[row.doc_id]) < 1e-3


@pytest.mark.parametrize("q,term,end", [
    ("data", "data", 5),
    ("data -slow", "fast", 10),
    ("(dup | vector) join", "join", 3),
    ("data", "data", 1),
])
def test_span_first_vs_oracle(index, duck, q, term, end):
    from bitfunnel_spark.plans.oracle import oracle_span_first_sql

    got = [tuple(r) for r in serving.span_first(index, q, term, end, k=10).collect()]
    exp = duck.execute(oracle_span_first_sql(q, term, end, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got, f"span_first mismatch {q!r} {term} {end}"


def test_span_first_positional_and_fallback_agree(index, duck):
    # force the corpus fallback by lying about positional segments, then
    # restore; both paths must produce identical results
    got_pos = [tuple(r) for r in serving.span_first(index, "data", "data", 4, k=20).collect()]
    saved = index.segments_positional
    index.segments_positional = False
    try:
        got_fb = [tuple(r) for r in serving.span_first(index, "data", "data", 4, k=20).collect()]
    finally:
        index.segments_positional = saved
    assert got_pos == got_fb
    assert got_pos  # non-trivial


def test_span_first_tightening_end_shrinks_matches(index):
    wide = serving.span_first(index, "data", "data", 1000, k=1000).count()
    narrow = serving.span_first(index, "data", "data", 2, k=1000).count()
    assert narrow <= wide


@pytest.mark.parametrize("pos,neg,nb", [
    ("data", "slow", 0.5),
    ("data fast", "dup | vector", 0.1),
    ("(dup | vector) join", '"batch batch"', 0.3),
])
def test_boosting_query_vs_oracle(index, duck, pos, neg, nb):
    from bitfunnel_spark.plans.oracle import oracle_boosting_sql

    got = [tuple(r) for r in serving.boosting_query(
        index, pos, neg, negative_boost=nb, k=10).collect()]
    exp = duck.execute(oracle_boosting_sql(pos, neg, negative_boost=nb, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got, f"boosting mismatch {pos!r}/{neg!r}"
    assert got


def test_boosting_demotes_not_excludes(index):
    # boost=1.0 is a no-op (== plain search over full match set);
    # demoted docs remain present in a large-enough k
    base = {r.doc_id: r.score for r in index.search("data", k=1000).collect()}
    noop = {r.doc_id: r.score for r in serving.boosting_query(
        index, "data", "slow", negative_boost=1.0, k=1000).collect()}
    assert noop == base
    demoted = {r.doc_id for r in serving.boosting_query(
        index, "data", "slow", negative_boost=0.5, k=1000).collect()}
    assert demoted == set(base)  # same docs, different order
    excluded = {r.doc_id for r in index.search("data -slow", k=1000).collect()}
    assert excluded <= demoted


@pytest.mark.parametrize("clauses,tie", [
    (["data", "fast"], 0.0),
    (["data -slow", "dup | vector", "join"], 0.3),
    (['"batch batch"', "lang:en data"], 0.5),
])
def test_dis_max_vs_oracle(index, duck, clauses, tie):
    from bitfunnel_spark.plans.oracle import oracle_dis_max_sql

    got = [tuple(r) for r in serving.dis_max(index, clauses, tie_breaker=tie, k=10).collect()]
    exp = duck.execute(oracle_dis_max_sql(clauses, tie_breaker=tie, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got, f"dis_max mismatch {clauses!r}"
    assert got


def test_dis_max_single_clause_is_search(index):
    got = [tuple(r) for r in serving.dis_max(index, ["data"], k=10).collect()]
    exp = [tuple(r) for r in index.search("data", k=10).collect()]
    assert got == exp


def test_dis_max_tie1_close_to_or_sum(index):
    # tie_breaker=1 sums clause scores; for single-term clauses this is
    # the OR query's BM25 sum up to per-clause 4 dp pre-rounding (dis_max
    # rounds each clause, the OR query rounds once after summing)
    got = {r.doc_id: r.score for r in serving.dis_max(
        index, ["dup", "vector"], tie_breaker=1.0, k=1000).collect()}
    exp = {r.doc_id: r.score for r in index.search("dup | vector", k=1000).collect()}
    assert set(got) == set(exp)
    assert all(abs(got[d] - exp[d]) <= 2e-4 for d in got)


@pytest.mark.parametrize("q,rq,ws,mode,qw,rw", [
    ("data", '"batch batch"', 50, "total", 1.0, 2.0),
    ("data -slow", "fast dup", 20, "multiply", 1.0, 1.0),
    ("dup | vector", "join", 30, "max", 0.7, 1.5),
    ("data", "fast", 10, "avg", 1.0, 1.0),
    ("data", "fast", 15, "min", 2.0, 0.5),
])
def test_rescore_vs_oracle(index, duck, q, rq, ws, mode, qw, rw):
    from bitfunnel_spark.plans.oracle import oracle_rescore_sql

    got = [tuple(r) for r in serving.rescore(
        index, q, rq, window_size=ws, query_weight=qw, rescore_weight=rw,
        score_mode=mode, k=10).collect()]
    exp = duck.execute(oracle_rescore_sql(
        q, rq, window_size=ws, query_weight=qw, rescore_weight=rw,
        score_mode=mode, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got, f"rescore mismatch {q!r}/{rq!r} {mode}"
    assert got


def test_rescore_only_touches_window(index):
    # a doc outside the primary top-window can never enter the result,
    # no matter how well it scores on the rescore query (Lucene contract)
    win_ids = {r.doc_id for r in index.search("data", k=5).collect()}
    res = serving.rescore(index, "data", "data", window_size=5, k=100).collect()
    assert {r.doc_id for r in res} <= win_ids


def test_rescore_identity_weights(index):
    # rescore_weight=0, total mode: ranking == primary ranking (window cut)
    got = [r.doc_id for r in serving.rescore(
        index, "data", "fast", window_size=50, rescore_weight=0.0, k=10).collect()]
    exp = [r.doc_id for r in index.search("data", k=10).collect()]
    assert got == exp


@pytest.mark.parametrize("text,fields,op,tie", [
    ("data txt", ["body", "path^2"], "or", 0.0),
    ("data fast", ["body^1.5", "path"], "and", 0.4),
    ("en data", ["body", "lang"], "or", 0.2),
])
def test_multi_match_best_fields_vs_oracle(index, duck, text, fields, op, tie):
    from bitfunnel_spark.plans.oracle import oracle_dis_max_sql

    got = [tuple(r) for r in serving.multi_match(
        index, text, fields, mm_type="best_fields", tie_breaker=tie,
        operator=op, k=10).collect()]
    clauses = serving.multi_match_clauses(text, fields, op)
    exp = duck.execute(oracle_dis_max_sql(clauses, tie_breaker=tie, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got, f"multi_match mismatch {text!r}"
    assert got


def test_multi_match_most_fields_is_sum(index):
    got = [tuple(r) for r in serving.multi_match(
        index, "data txt", ["body", "path"], mm_type="most_fields", k=10).collect()]
    clauses = serving.multi_match_clauses("data txt", ["body", "path"], "or")
    exp = [tuple(r) for r in serving.dis_max(index, clauses, tie_breaker=1.0, k=10).collect()]
    assert got == exp


def test_multi_match_cross_fields_is_bm25f(index, duck):
    from bitfunnel_spark.plans.expand import combined_fields
    from bitfunnel_spark.plans.oracle import oracle_search_sql

    got = [tuple(r) for r in serving.multi_match(
        index, "data txt", ["body", "path^0.4"], mm_type="cross_fields",
        operator="and", k=10).collect()]
    node = combined_fields("data txt", {"body": 1.0, "path": 0.4})
    exp = duck.execute(oracle_search_sql(node, k=10)).fetchall()
    assert [(d, round(s, 4)) for d, s in exp] == got
    assert got


def test_multi_match_single_body_field_is_search(index):
    got = [tuple(r) for r in serving.multi_match(
        index, "data fast", ["body"], operator="and", k=10).collect()]
    exp = [tuple(r) for r in index.search("data fast", k=10).collect()]
    assert got == exp


@pytest.mark.parametrize("q,by,pcts", [
    ("data", "lang", (25.0, 50.0, 75.0, 95.0)),
    ("(dup | vector) join", "repo", (50.0, 90.0)),
    ("data -slow", "lang", (10.0, 99.9)),
])
def test_facet_percentiles_vs_oracle(index, duck, q, by, pcts):
    from bitfunnel_spark.plans.oracle import oracle_facet_percentiles_sql

    got = [tuple(r) for r in serving.facet_percentiles(
        index, q, by=by, percents=pcts).collect()]
    exp = [tuple(r) for r in duck.execute(
        oracle_facet_percentiles_sql(q, by=by, percents=pcts)).fetchall()]
    exp = [(v, n) + tuple(round(x, 4) for x in rest) for (v, n, *rest) in exp]
    assert exp == got, f"percentiles mismatch {q!r} {by}"
    assert got


def test_facet_percentiles_approx_close(index):
    ex = {r[0]: r for r in serving.facet_percentiles(
        index, "data", by="lang", percents=(50.0,)).collect()}
    ap = {r[0]: r for r in serving.facet_percentiles(
        index, "data", by="lang", percents=(50.0,), exact=False).collect()}
    assert set(ex) == set(ap)
    for v in ex:
        # GK sketch at default accuracy is near-exact at this scale
        assert abs(ex[v].p50 - ap[v].p50) <= max(2.0, 0.1 * ex[v].p50), v


def test_collapse_never_crowded_out(index):
    # every group value present in the match set appears in a large-enough k
    q = "data"
    matches = index.match(q)
    groups = (
        index.corpus.select("doc_id", "repo").join(matches, "doc_id")
        .select("repo").distinct().count()
    )
    rows = serving.collapse_topk(index, q, by="repo", k=1000).collect()
    assert len(rows) == groups


@pytest.mark.parametrize("q,by", [("data", "lang"), ("(dup | vector) join", "repo"),
                                  ("data -slow", "lang")])
def test_facet_stats_vs_oracle(index, duck, q, by):
    got = [tuple(r) for r in serving.facet_stats(index, q, by=by).collect()]
    exp = [
        (v, n, s, pytest.approx(a, abs=2e-4), lo, hi)
        for v, n, s, a, lo, hi in duck.execute(oracle_facet_stats_sql(q, by=by)).fetchall()
    ]
    assert exp == got, f"facet_stats mismatch for {q!r} by {by}"
    # per-facet counts must sum to the match-set size
    assert sum(n for _, n, *_ in got) == index.match(q).count()


@pytest.mark.parametrize("q,qid", [("data fast", 7), ("dup | vector", 123)])
def test_hybrid_search_vs_oracle(index, duck, spark, q, qid):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = [
        (r["doc_id"], r["rrf"], r["bm25_rank"] or 0, r["cos_rank"] or 0)
        for r in serving.hybrid_search(index, emb, q, qid, k=10).collect()
    ]
    # the oracle coalesces NULL ranks to 0 (driver canonicalizer constraint)
    exp = [
        (d, pytest.approx(s, abs=2e-6), b, c)
        for d, s, b, c in duck.execute(oracle_hybrid_sql(q, qid, k=10)).fetchall()
    ]
    assert exp == got, f"hybrid mismatch for {q!r} qid={qid}"
    # a doc in both lists outranks equal-rank single-list docs
    assert all(s > 0 for _, s, _, _ in got)


def test_hybrid_rank_semantics(index, spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = serving.hybrid_search(index, emb, "data fast", 7, k=50, k_each=10).collect()
    # ranks are 1..k_each and at least one doc carries a NULL rank on one side
    for r in rows:
        for rank in (r["bm25_rank"], r["cos_rank"]):
            assert rank is None or 1 <= rank <= 10
    assert any(r["bm25_rank"] is None or r["cos_rank"] is None for r in rows)
    # rrf recomputes from the ranks
    for r in rows:
        want = sum(1.0 / (60 + x) for x in (r["bm25_rank"], r["cos_rank"]) if x)
        assert abs(r["rrf"] - round(want, 6)) < 1e-9


def unpartitioned_windows(df):
    """The Window nodes of df's executed plan that have no partition spec.
    A WindowExec prints as ``Window [exprs], [partition], [order]``, with
    the empty partition list left out."""
    found = []
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        node = line.lstrip(" +-*()0123456789")
        if not node.startswith("Window ["):
            continue
        depth = groups = 0
        for ch in node:
            if ch == "[":
                groups += depth == 0
                depth += 1
            elif ch == "]":
                depth -= 1
        if groups < 3:
            found.append(node)
    return found


def test_hybrid_ranks_without_a_global_window(index, spark):
    # both ≤k_each-row arms are ranked without a row_number over an
    # unpartitioned window (a single-partition WindowExec)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = serving.hybrid_search(index, emb, "data fast", 7, k=10)
    assert got.collect()
    assert unpartitioned_windows(got) == []


def test_snippets_with_expansion_query(index, duck):
    # a wildcard query must resolve BEFORE snippet-term ranking — the raw
    # AST holds an unplannable Wildcard node (regression: serving used to
    # plan the unprepared parse)
    rows = serving.snippets(index, "s?a* & data", k=5, window=3).collect()
    assert len(rows) == 5
    base = {
        (r["doc_id"], r["score"])
        for r in index.search("s?a* & data", k=5, mode="kernel").collect()
    }
    assert {(r["doc_id"], r["score"]) for r in rows} == base
    # every snippet centers on a resolved scoring term, never the raw glob
    for r in rows:
        toks = set(r["snippet"].split())
        assert toks & {"scan", "spark", "small", "data"}, r["snippet"]


EXPLAIN_QUERIES = ["spark & join", "data -slow", "data^2 fast", "lang:en data"]


@pytest.mark.parametrize("q", EXPLAIN_QUERIES)
def test_explain_vs_oracle(index, duck, q):
    got = [
        (r["doc_id"], r["score"], r["stream"], r["term"], r["tf"], r["contribution"])
        for r in serving.explain(index, q, k=10).collect()
    ]
    exp = [
        (d, pytest.approx(s, abs=2e-4), st, t, tf, pytest.approx(c, abs=2e-4))
        for d, s, st, t, tf, c in duck.execute(oracle_explain_sql(q, k=10)).fetchall()
    ]
    assert exp == got, f"explain mismatch for {q!r}"


def test_explain_reconciles_with_score(index):
    rows = serving.explain(index, "spark & join", k=10).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for doc, parts in by_doc.items():
        total = sum(p["contribution"] for p in parts)
        # each contribution is rounded to 4dp, so tolerance scales with count
        assert abs(total - parts[0]["score"]) <= 1e-4 * (len(parts) + 1), doc
        # an AND result must carry every scoring term
        assert {p["term"] for p in parts} == {"spark", "join"}


@pytest.mark.parametrize("doc_id", [0, 123])
def test_term_vector_vs_oracle(index, duck, doc_id):
    got = [tuple(r) for r in serving.term_vector(index, doc_id).collect()]
    exp = duck.execute(f"""
        WITH corpus AS (SELECT doc_id, lower(text) AS body_text,
               'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS path_text,
               lower(lang) AS lang_text, lower(source) AS repo_text FROM documents),
        tf AS (
          SELECT doc_id, 'body' AS stream, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(regexp_extract_all(body_text,
               '[a-z_][a-z0-9_]*|[0-9]+')) AS term FROM corpus) GROUP BY doc_id, term
          UNION ALL
          SELECT doc_id, 'path' AS stream, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(regexp_extract_all(path_text,
               '[a-z_][a-z0-9_]*|[0-9]+')) AS term FROM corpus) GROUP BY doc_id, term
          UNION ALL SELECT doc_id, 'lang', lang_text, 1 FROM corpus
          UNION ALL SELECT doc_id, 'repo', repo_text, 1 FROM corpus)
        SELECT stream, term, tf FROM tf WHERE doc_id = {doc_id}
        ORDER BY stream, term""").fetchall()
    assert got == exp
    # tf in the vector reconciles with the doc's body length
    body_tf = sum(tf for s, _, tf in got if s == "body")
    dl = index.doc_stats.filter(f"doc_id = {doc_id}").collect()[0]["doclen"]
    assert body_tf == dl


def test_facet_ranges_partition_match_set(index):
    from bitfunnel_spark.plans import serving

    edges = (0, 24, 48, 96, 192)
    buckets = serving.facet_ranges(index, "data | the", edges=edges).collect()
    n_match = index.match("data | the").count()
    assert sum(r["n_docs"] for r in buckets) == n_match  # buckets partition
    los = [r["bucket_lo"] for r in buckets]
    assert los == sorted(los) and set(los) <= set(edges)


def test_histogram_vs_oracle(index, duck):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.oracle import oracle_histogram_sql

    got = [
        (r["bucket"], r["n_docs"])
        for r in serving.histogram(index, "data | the", interval=32).collect()
    ]
    exp = duck.execute(oracle_histogram_sql("data | the", interval=32)).fetchall()
    assert got == [(int(b), int(n)) for b, n in exp]
    assert sum(n for _, n in got) == index.match("data | the").count()
    assert all(b % 32 == 0 for b, _ in got)


def test_extended_stats_vs_oracle(index, duck):
    import pytest as _pt

    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.oracle import oracle_extended_stats_sql

    row = serving.extended_stats(index, "data -slow").collect()[0]
    exp = duck.execute(oracle_extended_stats_sql("data -slow")).fetchone()
    e = dict(
        zip(
            [
                "n_docs", "sum_doclen", "min_doclen", "max_doclen", "sum_sq",
                "avg_doclen", "var_doclen", "std_doclen",
            ],
            exp,
        )
    )
    for c in ["n_docs", "sum_doclen", "min_doclen", "max_doclen", "sum_sq"]:
        assert int(row[c]) == int(e[c]), c
    for c in ["avg_doclen", "var_doclen", "std_doclen"]:
        assert row[c] == _pt.approx(float(e[c]), abs=1e-9), c
    # internal consistency: std ≈ sqrt(var), var ≥ 0
    assert row["var_doclen"] >= 0
    assert row["std_doclen"] == _pt.approx(row["var_doclen"] ** 0.5, abs=1e-3)


def test_significant_terms_query_terms_rank_high(index):
    from bitfunnel_spark.plans import serving

    out = serving.significant_terms(index, "vector dup", k=20).collect()
    terms = [r["term"] for r in out]
    # the query's own (rare) term must be among the most significant
    assert "dup" in terms[:3]
    lifts = [r["lift"] for r in out]
    assert lifts == sorted(lifts, reverse=True)
    for r in out:
        assert r["fg_df"] <= r["bg_df"]


NAMED_FILTER_SET = {
    "fastkey": "fast & key",
    "slow": "slow",
    "rowscan": '"row scan"',
    "absent": "zzzqqqxx",
}


def test_filters_agg_vs_oracle(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_filters_agg_sql

    got = [
        (r["name"], r["n_docs"])
        for r in serving.filters_agg(index, NAMED_FILTER_SET).collect()
    ]
    exp = duck.execute(oracle_filters_agg_sql(NAMED_FILTER_SET)).fetchall()
    assert got == [(n, int(c)) for n, c in exp]
    d = dict(got)
    # every named bucket present; empty filter counts 0; counts match the
    # single-query matcher
    assert set(d) == set(NAMED_FILTER_SET)
    assert d["absent"] == 0
    for name, q in NAMED_FILTER_SET.items():
        if name != "absent":
            assert d[name] == index.match(q).count()


def test_adjacency_matrix_vs_oracle(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_adjacency_sql

    got = [
        (r["a"], r["b"], r["n_docs"])
        for r in serving.adjacency_matrix(index, NAMED_FILTER_SET).collect()
    ]
    exp = duck.execute(oracle_adjacency_sql(NAMED_FILTER_SET)).fetchall()
    assert got == [(a, b, int(c)) for a, b, c in exp]
    d = {(a, b): c for a, b, c in got}
    # diagonal equals the filter's own count; pairs bounded by min of arms
    assert all(a <= b for a, b in d)
    for name, q in NAMED_FILTER_SET.items():
        n = index.match(q).count()
        if n:
            assert d[(name, name)] == n
    for (a, b), c in d.items():
        if a != b:
            assert c <= min(d[(a, a)], d[(b, b)])


def test_matched_queries_vs_oracle(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_matched_queries_sql

    named = {"haskey": "key", "hasscan": "scan", "langen": "lang:en"}
    res = serving.matched_queries(index, "data & fast", named, k=10).collect()
    got = [(r["doc_id"], r["score"], tuple(r["matched"])) for r in res]
    exp = [
        (d, pytest.approx(s, abs=2e-4), tuple(m))
        for d, s, m in duck.execute(
            oracle_matched_queries_sql("data & fast", named, k=10)
        ).fetchall()
    ]
    assert got == exp
    # annotation must agree with the per-query matchers
    for r in res:
        for name, q in named.items():
            member = (
                index.match(q).filter(f"doc_id = {r['doc_id']}").count() == 1
            )
            assert (name in r["matched"]) == member
    # top-k itself is the plain search result
    plain = [(r["doc_id"], r["score"]) for r in index.search("data & fast", k=10).collect()]
    assert [(d, s) for d, s, _ in got] == plain


def test_composite_agg_pagination(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_composite_sql

    q = "data | the"
    pages, after, seen = [], None, 0
    while True:
        page = serving.composite_agg(index, q, by=("lang", "repo"), size=5, after=after).collect()
        exp = duck.execute(
            oracle_composite_sql(q, by=("lang", "repo"), size=5, after=after)
        ).fetchall()
        assert [(r["lang"], r["repo"], r["n_docs"]) for r in page] == [
            (l, s, int(c)) for l, s, c in exp
        ]
        if not page:
            break
        pages.extend(page)
        after = (page[-1]["lang"], page[-1]["repo"])
        seen += 1
        assert seen < 50  # paranoia: pagination must terminate
    # pages concatenate to the full agg, keys strictly ascending, counts
    # sum to the match-set size
    keys = [(r["lang"], r["repo"]) for r in pages]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    assert sum(r["n_docs"] for r in pages) == index.match(q).count()


def test_composite_after_arity_error(index):
    with pytest.raises(ValueError):
        serving.composite_agg(index, "data", by=("lang", "repo"), after=("en",)).collect()


def test_random_score_vs_oracle(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_random_score_sql

    got = [
        (r["doc_id"], r["score"])
        for r in serving.random_score(index, "data | the", seed=99, k=15).collect()
    ]
    exp = duck.execute(oracle_random_score_sql("data | the", seed=99, k=15)).fetchall()
    assert got == [(d, pytest.approx(s, abs=1e-9)) for d, s in exp]
    # deterministic across repeat runs; different seed reorders
    again = [
        (r["doc_id"], r["score"])
        for r in serving.random_score(index, "data | the", seed=99, k=15).collect()
    ]
    assert got == again
    other = [
        r["doc_id"]
        for r in serving.random_score(index, "data | the", seed=100, k=15).collect()
    ]
    assert [d for d, _ in got] != other
    # members of the match set only
    members = {r["doc_id"] for r in index.match("data | the").collect()}
    assert {d for d, _ in got} <= members


RANK_EVAL_CASES = [
    ("data & fast", "data & fast & key"),
    ("row | scan", '"row scan"'),
    ("table", "zzzqqqxx"),
    ("key value", "lang:en key"),
]


def test_rank_eval_vs_oracle(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_rank_eval_sql

    res = serving.rank_eval(index, RANK_EVAL_CASES, k=10).collect()
    exp = duck.execute(oracle_rank_eval_sql(RANK_EVAL_CASES, k=10)).fetchall()
    assert len(res) == len(RANK_EVAL_CASES)
    for r, e in zip(res, exp):
        qid, n_rel, p, rec, rr, ndcg = e
        assert r["query_id"] == qid and r["n_rel"] == int(n_rel)
        assert r["p_at_k"] == pytest.approx(float(p), abs=2e-4)
        assert r["recall_at_k"] == pytest.approx(float(rec), abs=2e-4)
        assert r["rr"] == pytest.approx(float(rr), abs=2e-4)
        assert r["ndcg"] == pytest.approx(float(ndcg), abs=2e-4)
    by_id = {r["query_id"]: r for r in res}
    # perfect case: qrel is a subset-query of the run's own query with
    # every relevant doc in the top-k -> rr = 1 implies first hit at rank 1
    assert by_id[2]["n_rel"] == 0 and by_id[2]["ndcg"] == 0.0
    for r in res:
        assert 0.0 <= r["p_at_k"] <= 1.0 and 0.0 <= r["ndcg"] <= 1.0
        assert 0.0 <= r["rr"] <= 1.0


def test_rank_eval_self_qrel_is_perfect(index):
    # qrel == run query: every top-k doc is relevant -> p@k = 1 (when the
    # match set has >= k docs), rr = 1, ndcg = 1
    res = serving.rank_eval(index, [("data", "data")], k=10).collect()[0]
    assert res["p_at_k"] == 1.0 and res["rr"] == 1.0 and res["ndcg"] == 1.0


def test_rank_eval_empty_cases(index):
    with pytest.raises(ValueError):
        serving.rank_eval(index, [])


def test_mterm_vectors_vs_single(index, duck):
    ids = [7, 123, 250]
    batch = serving.mterm_vectors(index, ids).collect()
    # batch == union of single-doc term vectors
    singles = []
    for d in ids:
        for r in serving.term_vector(index, d).collect():
            singles.append((d, r["stream"], r["term"], r["tf"]))
    got = [(r["doc_id"], r["stream"], r["term"], r["tf"]) for r in batch]
    assert got == sorted(singles)


def test_composite_and_random_score_plans(index):
    """SCALE.md claims: composite pages are TopK-by-key (never a global
    sort/window over all buckets); random_score's top-k is
    TakeOrderedAndProject over the match set."""
    comp = serving.composite_agg(index, "data | the", by=("lang", "repo"), size=5)
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    rs = serving.random_score(index, "data | the", seed=1, k=5)
    plan2 = rs._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan2


def test_matched_queries_broadcast_plan(index):
    """The annotation side must broadcast the k-row result into the batch
    output (no shuffle keyed by the full match set downstream of the
    batch job)."""
    df = serving.matched_queries(index, "data & fast", {"a": "key"}, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_rare_terms_vs_oracle(index, duck):
    from bitfunnel_spark import BuildConfig
    from bitfunnel_spark.plans.oracle import oracle_rare_terms_sql

    got = [(r.value, r.n_docs)
           for r in serving.rare_terms(index, "data | the", by="repo",
                                       max_doc_count=30).collect()]
    exp = duck.execute(
        oracle_rare_terms_sql("data | the", by="repo", max_doc_count=30,
                              config=BuildConfig(n_slices=4))
    ).fetchall()
    assert got == exp
    # long-tail order: ascending doc_count, every bucket under the cap
    assert got == sorted(got, key=lambda t: (t[1], t[0]))
    assert all(n <= 30 for _, n in got)


def test_multi_terms_vs_oracle(index, duck):
    from bitfunnel_spark import BuildConfig
    from bitfunnel_spark.plans.oracle import oracle_multi_terms_sql

    got = [(r.lang, r.repo, r.n_docs)
           for r in serving.multi_terms(index, "data | the",
                                        by=("lang", "repo"), size=7).collect()]
    exp = duck.execute(
        oracle_multi_terms_sql("data | the", by=("lang", "repo"), size=7,
                               config=BuildConfig(n_slices=4))
    ).fetchall()
    assert got == exp and len(got) == 7


def test_rare_multi_terms_dsl_routing(index):
    from bitfunnel_spark.plans.dsl import DslError, run_aggs
    import pytest as _pytest

    q = {"query_string": {"query": "data | the"}}
    rows = run_aggs(index, {"query": q, "aggs": {"t": {"rare_terms": {
        "field": "repo", "max_doc_count": 30}}}}).collect()
    assert rows and all(r.n_docs <= 30 for r in rows)
    rows2 = run_aggs(index, {"query": q, "aggs": {"p": {"multi_terms": {
        "terms": [{"field": "lang"}, {"field": "repo"}], "size": 4}}}}).collect()
    assert len(rows2) == 4
    with _pytest.raises(DslError):
        run_aggs(index, {"query": q, "aggs": {"t": {"rare_terms": {
            "field": "doclen"}}}})
    with _pytest.raises(DslError):
        run_aggs(index, {"query": q, "aggs": {"t": {"multi_terms": {
            "terms": [{"field": "lang"}]}}}})
    with _pytest.raises(DslError):
        run_aggs(index, {"query": q, "aggs": {"t": {"multi_terms": {
            "terms": [{"field": "lang"}, {"field": "lang"}]}}}})


def test_facet_mad_exact(index, duck):
    import math

    from bitfunnel_spark.plans.serving import facet_mad

    rows = facet_mad(index, "data", by="lang").collect()
    want = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9_]+')) AS t FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
        m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'data'),
        r AS (SELECT d.lang, dl.doclen FROM m JOIN documents d USING (doc_id)
              JOIN dl USING (doc_id)),
        med AS (SELECT lang, median(doclen) AS md FROM r GROUP BY lang)
        SELECT r.lang, count(*) AS n, round(median(abs(r.doclen - med.md)), 4)
        FROM r JOIN med USING (lang) GROUP BY r.lang ORDER BY r.lang
    """).fetchall()
    assert [(r["lang"], r["n_docs"]) for r in rows] == [
        (w[0], w[1]) for w in want]
    for r, w in zip(rows, want):
        assert math.isclose(r["mad"], w[2], rel_tol=1e-9), (r, w)


def test_mad_dsl_routing(index):
    from bitfunnel_spark.plans.dsl import DslError, run_aggs

    out = run_aggs(index, {
        "query": {"match": {"content": "data"}},
        "aggs": {"x": {"terms": {"field": "lang"},
                       "aggs": {"m": {"median_absolute_deviation": {
                           "field": "doclen"}}}}},
    })
    assert set(out.columns) == {"lang", "n_docs", "mad"}
    import pytest as _pytest
    with _pytest.raises(DslError):
        run_aggs(index, {
            "query": {"match": {"content": "data"}},
            "aggs": {"x": {"terms": {"field": "lang"},
                           "aggs": {"m": {"median_absolute_deviation": {
                               "field": "lang"}}}}},
        })


def test_facet_metrics_one_pass(index, duck):
    import math

    from bitfunnel_spark.plans.dsl import run_aggs

    out = run_aggs(index, {
        "query": {"match": {"content": "data"}},
        "aggs": {"by_lang": {"terms": {"field": "lang"}, "aggs": {
            "avg_dl": {"avg": {"field": "doclen"}},
            "max_dl": {"max": {"field": "doclen"}},
            "n_repos": {"cardinality": {"field": "repo"}},
            "dl": {"percentiles": {"field": "doclen",
                                   "percents": [50.0, 95.0]}},
        }}},
    })
    rows = out.collect()
    assert set(out.columns) == {
        "lang", "n_docs", "avg_dl", "max_dl", "n_repos", "dl_p50", "dl_p95"}
    want = duck.execute("""
        WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
                     '[a-z0-9_]+')) AS t FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
        m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'data')
        SELECT d.lang, count(*), round(avg(dl.doclen), 4), max(dl.doclen),
               count(DISTINCT d.source),
               round(quantile_cont(dl.doclen, 0.5), 4),
               round(quantile_cont(dl.doclen, 0.95), 4)
        FROM m JOIN documents d USING (doc_id) JOIN dl USING (doc_id)
        GROUP BY d.lang ORDER BY d.lang
    """).fetchall()
    assert len(rows) == len(want)
    for r, w in zip(rows, want):
        assert (r["lang"], r["n_docs"], r["max_dl"], r["n_repos"]) == (
            w[0], w[1], w[3], w[4])
        for got_v, want_v in ((r["avg_dl"], w[2]), (r["dl_p50"], w[5]),
                              (r["dl_p95"], w[6])):
            assert math.isclose(got_v, want_v, rel_tol=1e-9)
    # one groupBy pipeline over the match frame: every metric rides the
    # SAME aggregate stages (partial/merge/distinct/final — countDistinct
    # adds stages but never a second scan). The avg metric appears only in
    # that one pipeline; per-metric aggregations would multiply it.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    metric_aggs = [
        ln for ln in plan.splitlines()
        if "Aggregate [" in ln and "avg(doclen" in ln
    ]
    assert len(metric_aggs) == 1, plan
    assert "percentile(doclen" in metric_aggs[0], plan


def test_facet_metrics_rejections(index):
    from bitfunnel_spark.plans.dsl import DslError, run_aggs
    import pytest as _pytest

    with _pytest.raises(DslError):  # stats needs its own request
        run_aggs(index, {
            "query": {"match": {"content": "data"}},
            "aggs": {"x": {"terms": {"field": "lang"}, "aggs": {
                "a": {"avg": {"field": "doclen"}},
                "s": {"stats": {"field": "doclen"}}}}},
        })
    with _pytest.raises(DslError):  # bad cardinality field
        run_aggs(index, {
            "query": {"match": {"content": "data"}},
            "aggs": {"x": {"terms": {"field": "lang"}, "aggs": {
                "a": {"avg": {"field": "doclen"}},
                "c": {"cardinality": {"field": "doclen"}}}}},
        })


def test_facet_metrics_cardinality_of_bucket_field(index):
    # degenerate but valid in ES: cardinality of the bucket field itself
    from bitfunnel_spark.plans.dsl import run_aggs

    rows = run_aggs(index, {
        "query": {"match": {"content": "data"}},
        "aggs": {"x": {"terms": {"field": "lang"}, "aggs": {
            "a": {"avg": {"field": "doclen"}},
            "u": {"cardinality": {"field": "lang"}}}}},
    }).collect()
    assert rows and all(r["u"] == 1 for r in rows)


# ---------------------------------------------------------------------------
# sampler / diversified_sampler / boxplot


@pytest.mark.parametrize("q,shard_size", [("data | the", 3), ("data", 10)])
def test_sampler_agg_vs_oracle(index, duck, q, shard_size):
    from bitfunnel_spark.plans.oracle import oracle_sampler_sql

    got = [
        (r["value"], r["n_docs"])
        for r in serving.sampler_agg(index, q, by="lang", shard_size=shard_size).collect()
    ]
    exp = duck.execute(oracle_sampler_sql(q, by="lang", shard_size=shard_size)).fetchall()
    assert got == [(v, int(c)) for v, c in exp]
    # sample budget: counts sum to <= n_shards * shard_size, and to the
    # full match size when the budget covers it
    n_shards = index.doc_stats.select("shard").distinct().count()
    total = sum(c for _, c in got)
    assert total <= n_shards * shard_size
    assert total <= index.match(q).count()


def test_sampler_agg_budget_covers_all(index):
    # a huge budget degenerates to plain facet counts
    q = "data"
    full = {
        (r["value"], r["n_docs"])
        for r in serving.facet_counts(index, q, facets=("lang",))
        .select("value", "n_docs")
        .collect()
    }
    samp = {
        (r["value"], r["n_docs"])
        for r in serving.sampler_agg(index, q, by="lang", shard_size=10**6).collect()
    }
    assert samp == full


def test_diversified_sampler_vs_oracle(index, duck):
    from bitfunnel_spark.plans.oracle import oracle_sampler_sql

    q = "data | the"
    got = [
        (r["value"], r["n_docs"])
        for r in serving.diversified_sampler_agg(
            index, q, by="lang", field="repo", shard_size=5, max_docs_per_value=2
        ).collect()
    ]
    exp = duck.execute(
        oracle_sampler_sql(q, by="lang", shard_size=5, diversify=("repo", 2))
    ).fetchall()
    assert got == [(v, int(c)) for v, c in exp]


def test_diversified_sampler_caps_per_value(index):
    # with max_docs_per_value=1 the sample holds at most one doc per
    # (shard, repo); aggregate over repo to observe the cap directly
    q = "data | the"
    rows = serving.diversified_sampler_agg(
        index, q, by="repo", field="repo", shard_size=10**6, max_docs_per_value=1
    ).collect()
    n_shards = index.doc_stats.select("shard").distinct().count()
    assert rows
    for r in rows:
        assert r["n_docs"] <= n_shards


def test_sampler_agg_validates(index):
    with pytest.raises(ValueError):
        serving.sampler_agg(index, "data", shard_size=0).collect()
    with pytest.raises(ValueError):
        serving.diversified_sampler_agg(index, "data", max_docs_per_value=0).collect()


@pytest.mark.parametrize("q", ["data | the", "lang:en data"])
def test_facet_boxplot_vs_oracle(index, duck, q):
    from bitfunnel_spark.plans.oracle import oracle_boxplot_sql

    got = [
        (r["lang"], r["n_docs"], r["min"], r["q1"], r["q2"], r["q3"], r["max"])
        for r in serving.facet_boxplot(index, q, by="lang").collect()
    ]
    exp = [
        (
            lang, int(n), mn,
            pytest.approx(q1, abs=2e-4), pytest.approx(q2, abs=2e-4),
            pytest.approx(q3, abs=2e-4), mx,
        )
        for lang, n, mn, q1, q2, q3, mx in duck.execute(oracle_boxplot_sql(q, by="lang")).fetchall()
    ]
    assert exp == got
    # five-number ordering invariant
    for _, _, mn, q1, q2, q3, mx in got:
        assert mn <= q1 <= q2 <= q3 <= mx


def test_rescore_plan_broadcasts_both_joins(index):
    # the window must never be the build side of the outer join (Spark
    # drops that hint and shuffles the full rescore arm); the shipped
    # shape is inner-prune (build: window) + outer enrich (build: the
    # <=window-row survivor frame) — two broadcasts, no sort-merge join
    df = serving.rescore(index, "data", "fast | key", window_size=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


# --- r05 metric-agg tail: percentile_ranks / t_test / string_stats / global


def test_percentile_ranks_cdf_properties(index):
    from bitfunnel_spark.plans.serving import percentile_ranks

    hi = index.doc_stats.agg({"doclen": "max"}).collect()[0][0]
    rows = percentile_ranks(index, "data", values=[1, hi // 2, hi]).collect()
    assert [r["value"] for r in rows] == sorted(r["value"] for r in rows)
    pcts = [r["pct"] for r in rows]
    assert pcts == sorted(pcts), "CDF must be monotone non-decreasing"
    assert pcts[-1] == 100.0, "rank at max doclen covers every match"
    assert all(0.0 <= p <= 100.0 for p in pcts)


def test_percentile_ranks_vs_independent_sql(index, duck):
    from bitfunnel_spark.plans.serving import percentile_ranks

    rows = percentile_ranks(index, "data", values=[48, 80]).collect()
    want = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9_]+')) AS t FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
        m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'data')
        SELECT round(100.0 * avg(CASE WHEN doclen <= 48 THEN 1.0 ELSE 0.0 END), 4),
               round(100.0 * avg(CASE WHEN doclen <= 80 THEN 1.0 ELSE 0.0 END), 4)
        FROM m JOIN dl USING (doc_id)
    """).fetchall()[0]
    import math
    assert math.isclose(rows[0]["pct"], want[0], abs_tol=1e-3)
    assert math.isclose(rows[1]["pct"], want[1], abs_tol=1e-3)


def test_t_test_vs_var_samp(index, duck):
    # independent check: DuckDB's built-in var_samp, not the engine's
    # hand-derived moment formula
    import math

    from bitfunnel_spark.plans.serving import t_test

    r = t_test(index, "data", "fast").collect()[0]
    want = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9_]+')) AS t FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
        a AS (SELECT dl.doclen FROM (SELECT DISTINCT doc_id FROM tok WHERE t = 'data') m
              JOIN dl USING (doc_id)),
        b AS (SELECT dl.doclen FROM (SELECT DISTINCT doc_id FROM tok WHERE t = 'fast') m
              JOIN dl USING (doc_id)),
        sa AS (SELECT count(*) AS n, avg(doclen) AS m, var_samp(doclen) AS v FROM a),
        sb AS (SELECT count(*) AS n, avg(doclen) AS m, var_samp(doclen) AS v FROM b)
        SELECT sa.n, sb.n,
               (sa.m - sb.m) / sqrt(sa.v / sa.n + sb.v / sb.n)
        FROM sa CROSS JOIN sb
    """).fetchall()[0]
    assert (r["n_a"], r["n_b"]) == (want[0], want[1])
    assert math.isclose(r["t_stat"], round(want[2], 4), abs_tol=2e-4), (r, want)


def test_t_test_same_query_is_zero(index):
    from bitfunnel_spark.plans.serving import t_test

    r = t_test(index, "data", "data").collect()[0]
    assert r["t_stat"] == 0.0 and r["n_a"] == r["n_b"]


def test_string_stats_vs_builtin_entropy(index, duck):
    # independent check: DuckDB's entropy() aggregate over the exploded
    # character stream (base-2 Shannon), not the engine's log-fold
    import math

    from bitfunnel_spark.plans.serving import string_stats

    r = string_stats(index, "data", field="repo").collect()[0]
    want = duck.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9_]+')) AS t FROM documents),
        m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'data'),
        v AS (SELECT lower(source) AS v FROM m JOIN documents USING (doc_id)),
        ch AS (SELECT unnest(string_split(v, '')) AS c FROM v)
        SELECT (SELECT count(*) FROM v),
               (SELECT min(length(v)) FROM v),
               (SELECT max(length(v)) FROM v),
               (SELECT round(avg(length(v)), 4) FROM v),
               (SELECT entropy(c) FROM ch WHERE c <> '')
    """).fetchall()[0]
    assert (r["count"], r["min_length"], r["max_length"]) == (want[0], want[1], want[2])
    assert math.isclose(r["avg_length"], want[3], abs_tol=1e-3)
    assert math.isclose(r["entropy"], want[4], abs_tol=2e-4), (r, want)


def test_global_stats_ignores_query(index):
    from bitfunnel_spark.plans.serving import global_stats

    r = global_stats(index).collect()[0]
    n = index.doc_stats.count()
    assert r["n_docs"] == n
    assert r["min_doclen"] <= r["max_doclen"]
    assert abs(r["avg_doclen"] * n - r["sum_doclen"]) < n  # 4 dp rounding slack


def test_new_metric_aggs_dsl_routing_and_validation(index):
    import pytest as _pytest

    from bitfunnel_spark.plans.dsl import DslError, run_aggs

    out = run_aggs(index, {
        "query": {"match": {"content": "data"}},
        "aggs": {"p": {"percentile_ranks": {"field": "doclen",
                                            "values": [16, 64]}}}})
    assert out.columns == ["value", "pct"] and out.count() == 2

    out = run_aggs(index, {"aggs": {"t": {"t_test": {
        "a": {"field": "doclen", "filter": {"match": {"content": "data"}}},
        "b": {"field": "doclen", "filter": {"match": {"content": "fast"}}}}}}})
    assert out.columns == ["n_a", "n_b", "mean_a", "mean_b", "t_stat"]

    out = run_aggs(index, {
        "query": {"match": {"content": "data"}},
        "aggs": {"s": {"string_stats": {"field": "lang"}}}})
    assert out.columns == ["count", "min_length", "max_length",
                           "avg_length", "entropy"]

    out = run_aggs(index, {
        "query": {"match": {"content": "data"}},
        "aggs": {"g": {"global": {},
                       "aggs": {"s": {"stats": {"field": "doclen"}}}}}})
    assert out.columns == ["n_docs", "sum_doclen", "min_doclen",
                           "max_doclen", "avg_doclen"]

    with _pytest.raises(DslError):
        run_aggs(index, {"query": {"match": {"content": "x"}},
                         "aggs": {"p": {"percentile_ranks": {
                             "field": "doclen", "values": []}}}})
    with _pytest.raises(DslError):
        run_aggs(index, {"aggs": {"t": {"t_test": {
            "a": {"field": "doclen", "filter": {"match": {"content": "x"}}},
            "b": {"field": "doclen", "filter": {"match": {"content": "y"}}},
            "type": "paired"}}}})
    with _pytest.raises(DslError):
        run_aggs(index, {"query": {"match": {"content": "x"}},
                         "aggs": {"s": {"string_stats": {"field": "doclen"}}}})
    with _pytest.raises(DslError):
        run_aggs(index, {"query": {"match": {"content": "x"}},
                         "aggs": {"g": {"global": {},
                                        "aggs": {"s": {"terms": {"field": "lang"}}}}}})


def test_matrix_stats_numpy_parity(index):
    import numpy as np
    from pyspark.sql import functions as F

    from bitfunnel_spark.plans import serving

    q = "data"
    rows = serving.matrix_stats(index, q).collect()
    assert [(r.field_a, r.field_b) for r in rows] == [
        ("chars", "chars"), ("doclen", "chars"), ("doclen", "doclen")]
    ids = sorted(r[0] for r in index.match(q).collect())
    dl = {r[0]: r[1] for r in index.doc_stats.select("doc_id", "doclen").collect()}
    ch = {r[0]: r[1] for r in index.corpus.select(
        "doc_id", F.length("content")).collect()}
    x = np.array([dl[d] for d in ids], dtype=np.float64)   # doclen
    y = np.array([ch[d] for d in ids], dtype=np.float64)   # chars
    n = len(ids)
    by_pair = {(r.field_a, r.field_b): r for r in rows}

    def check_self(r, v):
        m = v.mean()
        m2 = ((v - m) ** 2).mean()
        assert r.n == n
        assert abs(r.mean_a - m) < 1e-3
        assert abs(r.variance_a - v.var(ddof=1)) < 1e-2 * max(1, abs(v.var(ddof=1)))
        assert abs(r.skewness_a - ((v - m) ** 3).mean() / m2 ** 1.5) < 1e-3
        assert abs(r.kurtosis_a - ((v - m) ** 4).mean() / m2 ** 2) < 1e-3
        assert r.covariance == r.variance_a and r.correlation == 1.0

    check_self(by_pair[("doclen", "doclen")], x)
    check_self(by_pair[("chars", "chars")], y)
    cross = by_pair[("doclen", "chars")]
    cov = np.cov(x, y, ddof=1)[0, 1]
    corr = np.corrcoef(x, y)[0, 1]
    assert abs(cross.covariance - cov) < 1e-2 * max(1, abs(cov))
    assert abs(cross.correlation - corr) < 1e-3
    # text length and token count had better correlate strongly
    assert cross.correlation > 0.5


def test_matrix_stats_rejects_bad_fields(index):
    import pytest as _pytest

    from bitfunnel_spark.plans import serving

    with _pytest.raises(ValueError, match="distinct fields"):
        serving.matrix_stats(index, "data", fields=("doclen", "doclen"))
    with _pytest.raises(ValueError, match="distinct fields"):
        serving.matrix_stats(index, "data", fields=("doclen", "lang"))


def test_top_level_metric_aggs(index, duck):
    from pyspark.sql import functions as F

    from bitfunnel_spark.plans.dsl import run_aggs
    from bitfunnel_spark.plans import serving

    q = {"query": {"match": {"body": "data"}}}
    ids = {r[0] for r in index.match("data").collect()}
    dl = {r[0]: r[1] for r in index.doc_stats.select("doc_id", "doclen").collect()}
    vals = [dl[d] for d in ids]

    st = run_aggs(index, {**q, "aggs": {"x": {"stats": {"field": "doclen"}}}}).collect()[0]
    assert (st.n_docs, st.min_val, st.max_val, st.sum_val) == (
        len(vals), min(vals), max(vals), sum(vals))
    assert st.avg_val == round(sum(vals) / len(vals), 4)

    for kind, expect in [("avg", round(sum(vals) / len(vals), 4)),
                         ("sum", sum(vals)), ("min", min(vals)),
                         ("max", max(vals)), ("value_count", len(vals))]:
        row = run_aggs(index, {**q, "aggs": {"x": {kind: {"field": "doclen"}}}}).collect()[0]
        assert (row.n_docs, row.value) == (len(vals), expect), kind

    # cardinality over a keyword field
    langs = {r[1] for r in index.corpus.select("doc_id", "lang").collect()
             if r[0] in ids}
    card = run_aggs(index, {**q, "aggs": {"x": {"cardinality": {"field": "lang"}}}}).collect()[0]
    assert card.value == len(langs)

    # percentiles: exact interpolated == numpy linear
    import numpy as np

    pr = run_aggs(index, {**q, "aggs": {"x": {"percentiles": {
        "field": "doclen", "percents": [50, 95]}}}}).collect()[0]
    assert pr.p50 == round(float(np.percentile(vals, 50)), 4)
    assert pr.p95 == round(float(np.percentile(vals, 95)), 4)

    # no query = whole live corpus (ES's no-query metric)
    alldl = list(dl.values())
    row = run_aggs(index, {"aggs": {"x": {"avg": {"field": "doclen"}}}}).collect()[0]
    assert (row.n_docs, row.value) == (len(alldl), round(sum(alldl) / len(alldl), 4))

    # leaf rule + field validation
    import pytest as _pytest

    from bitfunnel_spark.plans.dsl import DslError

    with _pytest.raises(DslError, match="leaf metric"):
        run_aggs(index, {**q, "aggs": {"x": {"avg": {"field": "doclen"},
                 "aggs": {"y": {"stats": {"field": "doclen"}}}}}})
    with _pytest.raises(DslError, match="doclen or chars"):
        run_aggs(index, {**q, "aggs": {"x": {"sum": {"field": "lang"}}}})


def test_matrix_stats_via_run_aggs(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import DslError, run_aggs

    direct = serving.matrix_stats(index, "data").collect()
    routed = run_aggs(index, {"query": {"match": {"body": "data"}},
                              "aggs": {"m": {"matrix_stats": {
                                  "fields": ["doclen", "chars"]}}}}).collect()
    assert [tuple(r) for r in routed] == [tuple(r) for r in direct]
    # composes with a range filter through the restriction plan
    restricted = run_aggs(index, {"query": {"bool": {
        "must": [{"match": {"body": "data"}}],
        "filter": [{"range": {"doclen": {"gte": 40}}}]}},
        "aggs": {"m": {"matrix_stats": {"fields": ["doclen", "chars"]}}}}
    ).collect()
    assert restricted[0].n <= direct[0].n
    import pytest as _pytest

    with _pytest.raises(DslError, match="two fields"):
        run_aggs(index, {"query": {"match": {"body": "data"}},
                         "aggs": {"m": {"matrix_stats": {"fields": ["doclen"]}}}})


def test_random_score_boost_modes(index):
    from bitfunnel_spark.plans import serving

    scored = {r.doc_id: r.score for r in
              reference_search(index, "data", k=10**6).collect()}

    def rf(d, seed):
        m = 2147483648
        return round((((d + seed) % m) * 1103515245 + 12345) % m / m, 6)

    for seed, mode in [(42, "multiply"), (7, "sum")]:
        got = [(r.doc_id, r.score) for r in serving.random_score(
            index, "data", seed=seed, boost_mode=mode, k=12).collect()]
        base = {"multiply": lambda d: scored[d] * rf(d, seed),
                "sum": lambda d: scored[d] + rf(d, seed)}[mode]
        want = sorted(((round(base(d), 6), -d) for d in scored), reverse=True)
        assert got == [(-nd, s) for s, nd in want[:12]]
        again = [(r.doc_id, r.score) for r in serving.random_score(
            index, "data", seed=seed, boost_mode=mode, k=12).collect()]
        assert got == again

    import pytest as _pytest
    with _pytest.raises(ValueError, match="boost_mode"):
        serving.random_score(index, "data", boost_mode="median")


def test_dsl_random_score_routes(index):
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    # ES default boost_mode (multiply) and an explicit replace
    body = {"query": {"function_score": {
        "query": {"match": {"content": "data"}},
        "random_score": {"seed": 42, "field": "_seq_no"}}}, "size": 9}
    got = [(r["doc_id"], r["score"]) for r in search_dsl(index, body).collect()]
    want = [(r["doc_id"], r["score"]) for r in serving.random_score(
        index, "data", seed=42, boost_mode="multiply", k=9).collect()]
    assert got == want and got

    body2 = {"query": {"function_score": {
        "query": {"match": {"content": "data"}},
        "random_score": {"seed": 99}, "boost_mode": "replace"}}, "size": 15}
    got2 = [(r["doc_id"], r["score"]) for r in search_dsl(index, body2).collect()]
    want2 = [(r["doc_id"], r["score"]) for r in serving.random_score(
        index, "data", seed=99, k=15).collect()]
    assert got2 == want2 and got2

    import pytest as _pytest
    for bad, frag in [
        ({"random_score": {"seed": 1.5}}, "seed must be an int"),
        ({"random_score": {"seed": 1, "field": "lang"}}, "random_score.field"),
        ({"random_score": {"jitter": 3}}, "random_score takes"),
        ({"random_score": {}, "field_value_factor": {"field": "doclen"}},
         "exactly one function"),
    ]:
        with _pytest.raises(DslError, match=".*"):
            try:
                search_dsl(index, {"query": {"function_score": {
                    "query": {"match": {"content": "data"}}, **bad}}})
            except DslError as e:
                assert frag in str(e), (frag, str(e))
                raise


def test_random_score_negative_seed_stays_in_unit_interval(index):
    from bitfunnel_spark.plans import serving

    rows = serving.random_score(index, "data", seed=-5, k=10**6,
                                boost_mode="replace").collect()
    assert rows and all(0.0 <= r.score < 1.0 for r in rows)
    # normalization contract: seed -5 == seed (-5 mod 2^31)
    same = serving.random_score(index, "data", seed=-5 % 2147483648,
                                k=10**6, boost_mode="replace").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in same]


def test_mget(index, spark, corpus):
    from pyspark.sql import functions as F

    from bitfunnel_spark import BuildConfig, FullTextIndex
    from bitfunnel_spark.plans import serving

    known = [r.doc_id for r in index.corpus.select("doc_id").limit(3).collect()]
    missing = 10**9 + 7
    # request order preserved, found flags correct, fields joined
    rows = serving.mget(index, [known[2], missing, known[0]]).collect()
    assert [r.doc_id for r in rows] == [known[2], missing, known[0]]
    assert [r.found for r in rows] == [True, False, True]
    meta = {r.doc_id: (r.repo, r.path, r.lang)
            for r in index.corpus.select("doc_id", "repo", "path", "lang")
            .filter(F.col("doc_id").isin(known)).collect()}
    assert (rows[0].repo, rows[0].path, rows[0].lang) == meta[known[2]]
    assert rows[1].repo is None and rows[1].lang is None

    # custom field set and validation
    one = serving.mget(index, [known[0]], source=("content_sha256",)).collect()
    assert one[0].found and len(one[0].content_sha256) == 64
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown _mget"):
        serving.mget(index, [1], source=("doclen",))
    with _pytest.raises(ValueError, match="at least one"):
        serving.mget(index, [])

    # a soft-deleted doc reports found=false (ES: absent from the live index)
    idx2 = FullTextIndex.build(spark, corpus, BuildConfig(n_slices=4))
    idx2.delete_docs([known[1]])
    got = serving.mget(idx2, [known[1], known[0]]).collect()
    assert [r.found for r in got] == [False, True]


def test_dsl_fields_aliases_source(index):
    from bitfunnel_spark.plans.dsl import DslError, search_dsl

    a = search_dsl(index, {"query": {"match": {"content": "data"}},
                           "fields": ["repo", "lang"], "size": 5}).collect()
    b = search_dsl(index, {"query": {"match": {"content": "data"}},
                           "_source": ["repo", "lang"], "size": 5}).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] and a
    import pytest as _pytest
    with _pytest.raises(DslError, match="aliases"):
        search_dsl(index, {"query": {"match": {"content": "data"}},
                           "fields": ["repo"], "_source": ["lang"]})


def test_mget_broadcasts_the_pruned_corpus_side(index):
    from bitfunnel_spark.plans import serving

    known = [r.doc_id for r in index.corpus.select("doc_id").limit(2).collect()]
    df = serving.mget(index, known)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # the pruned corpus side, not a shuffle join
