"""prepare_serve: segment cache partitioned on the kernel group key must
elide the per-query exchange while leaving results rank-identical.
doc_stats is laid out beside it (same key, same partition count), so a
range-filtered request cogroups its restriction with no exchange either."""

from __future__ import annotations

import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from bitfunnel_spark.plans.dsl import _match_ids, count_dsl, search_dsl
from tests.conftest import reference_match, reference_search

RANGE_BODY = {"query": {"bool": {
    "must": [{"match": {"body": "data"}}],
    "filter": [{"range": {"doclen": {"gte": 40, "lte": 200}}}]}}, "size": 10}


@pytest.fixture(scope="module")
def served(spark, corpus):
    small = corpus.filter("doc_id < 300").cache()
    base = FullTextIndex.build_fused(spark, small, BuildConfig(n_slices=4))
    want = {
        q: [(r["doc_id"], r["score"]) for r in base.search(q, k=5, mode="kernel").collect()]
        for q in ["data the", "data -slow", '"the data"', "a | data"]
    }
    want_dsl = _rows(search_dsl(base, RANGE_BODY))
    want_count = count_dsl(base, RANGE_BODY).collect()[0][0]
    base.prepare_serve()
    return {"idx": base, "want": want, "want_dsl": want_dsl, "want_count": want_count}


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _nodes(root):
    """The executed plan's nodes above the cached stores: a tree walk that
    stops at each InMemoryTableScan, so the build plans behind the caches
    (and their exchanges) are left out on every branch of a cogroup, not
    only the first."""
    todo = [root]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        yield node
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def _query_side_plan(df) -> str:
    """The query-side nodes (_nodes), one per line."""
    root = df._jdf.queryExecution().executedPlan()
    return "\n".join(n.simpleString(100) for n in _nodes(root))


def _segment_side_plan(df) -> str:
    """The query-side nodes of the cogroup's first input, the segment
    store, one per line: the restriction input is left out."""
    root = df._jdf.queryExecution().executedPlan()
    cogroup = next(n for n in _nodes(root) if n.nodeName() == "FlatMapCoGroupsInPandas")
    return "\n".join(n.simpleString(100) for n in _nodes(cogroup.children().apply(0)))


def test_no_exchange_on_query_side(served):
    plan = _query_side_plan(served["idx"].search("data the", k=5, mode="kernel"))
    assert "Exchange" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_results_identical_after_prepare_serve(served):
    for q, want in served["want"].items():
        got = [
            (r["doc_id"], r["score"])
            for r in served["idx"].search(q, k=5, mode="kernel").collect()
        ]
        assert got == want, q


def test_batch_path_also_exchange_free(served):
    df = served["idx"].search_many(["data the", "data -slow"], k=5)
    # batch groups by the same key; its query side may keep the final
    # per-query ranking exchange (windowed top-k) but must not re-shuffle
    # the segment store: no hashpartitioning on (shard, slice)
    plan = _query_side_plan(df)
    assert "hashpartitioning(shard" not in plan


def test_doc_stats_laid_out_beside_segments(served):
    idx = served["idx"]
    n = idx.segments.rdd.getNumPartitions()
    assert idx.doc_stats.rdd.getNumPartitions() == n == 8


def test_range_filtered_request_exchange_free(served):
    idx = served["idx"]
    plan = _query_side_plan(search_dsl(idx, RANGE_BODY))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Exchange" not in plan  # BroadcastExchange included
    # _count adds only the final single-partition merge of its count
    plan = _query_side_plan(count_dsl(idx, RANGE_BODY))
    assert "FlatMapCoGroupsInPandas" in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert [ln.split(",")[0] for ln in exchanges] == ["Exchange SinglePartition"]


def test_range_results_identical_after_prepare_serve(served):
    idx = served["idx"]
    assert _rows(search_dsl(idx, RANGE_BODY)) == served["want_dsl"]
    assert served["want_dsl"]
    assert count_dsl(idx, RANGE_BODY).collect()[0][0] == served["want_count"]


# --- restrictions without (shard, slice): semi-joined into doc_stats


def test_restrictions_without_group_key_compose(served):
    idx = served["idx"]
    full = _rows(reference_search(idx, "data", k=10**6))

    def ranked(allowed):
        return [(d, s) for d, s in full if d in allowed][:8]

    pick = [int(d) for d, _ in full[::3]]
    must = [{"match": {"body": "data"}}]
    ids_body = {"query": {"bool": {"must": must, "filter": [
        {"ids": {"values": pick}}]}}, "size": 8}
    assert _rows(search_dsl(idx, ids_body)) == ranked(set(pick))
    exists_body = {"query": {"bool": {"must": must, "filter": [
        {"exists": {"field": "lang"}}]}}, "size": 8}
    has_lang = {r[0] for r in idx.corpus.filter("lang IS NOT NULL AND lang != ''")
                .select("doc_id").collect()}
    assert _rows(search_dsl(idx, exists_body)) == ranked(has_lang)
    the = {r[0] for r in reference_match(idx, "the").collect()}
    pf_body = {"query": {"match": {"body": "data"}},
               "post_filter": {"match": {"body": "the"}}, "size": 8}
    assert ranked(the) and _rows(search_dsl(idx, pf_body)) == ranked(the)
    # an ids filter beside a range: the range's doc_stats scan streams
    both = {"query": {"bool": {"must": must, "filter": [
        {"ids": {"values": pick}},
        {"range": {"doclen": {"gte": 40}}}]}}, "size": 8}
    long_docs = {r[0] for r in idx.doc_stats.filter("doclen >= 40").collect()}
    assert _rows(search_dsl(idx, both)) == ranked(set(pick) & long_docs)


def test_restriction_columns_do_not_reach_callers(served):
    idx = served["idx"]
    rng = {"range": {"doclen": {"gte": 40}}}
    hits = search_dsl(idx, {"query": rng, "size": 5})
    assert hits.columns == ["doc_id", "score"]
    assert hits.count() == 5
    hits = search_dsl(idx, {"query": {"constant_score": {"filter": rng}}})
    assert hits.columns == ["doc_id", "score"]
    for q in (rng, {"bool": {"filter": [rng]}},
              {"bool": {"must": [{"match": {"body": "data"}}], "filter": [rng]}},
              {"bool": {"must": [{"match": {"body": "data"}}], "must_not": [rng]}}):
        assert _match_ids(idx, q).columns == ["doc_id"], q
    assert search_dsl(idx, RANGE_BODY).columns == ["doc_id", "score"]


def test_fact_restricted_request_segment_side_exchange_free(served):
    # a define_fact set reaches the kernel as allow rows semi-joined into
    # the served doc_stats: the segment store feeds the cogroup as laid out
    import dataclasses

    from pyspark.sql import functions as F

    idx = served["idx"]
    even = idx.corpus.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    fidx = dataclasses.replace(idx, facts={"even": even})
    df = fidx.search("data", k=8, facts=["even"])
    assert "Exchange" not in _segment_side_plan(df)
    want = _rows(reference_search(fidx, "data", k=8, facts=["even"]))
    assert want and _rows(df) == want
