"""Soft-delete tombstones + user-defined fact sets.

The reference ANDs a "document active" system row into every query
(Row.h:34-35) and exposes named per-doc boolean facts (IFactSet.h); ours:
a tombstone doc-id set masked in both executors, and fact doc-sets ANDed
into the match. Deleting a top-k doc must change the result to the oracle
of the filtered corpus (with epoch-frozen stats); facts must restrict both
paths identically.
"""

import dataclasses

import pytest
from pyspark.sql import functions as F

from tests.conftest import reference_match, search_in


def _top(index, q, k=10, mode="kernel", facts=None):
    return [
        (r["doc_id"], r["score"])
        for r in search_in(mode, index, q, k=k, facts=facts).collect()
    ]


@pytest.mark.parametrize("q", ["data fast", "dup | vector", '"batch batch"', "data -slow"])
def test_delete_top_doc_changes_results(index, q):
    base = _top(index, q)
    assert base
    victim = base[0][0]
    deleted = dataclasses.replace(index, tombstones=frozenset({victim}))
    for mode in ("kernel", "dataframe"):
        got = _top(deleted, q, mode=mode)
        assert victim not in [d for d, _ in got], mode
        # remaining ranking must equal the base ranking minus the victim,
        # extended by the next-best doc (epoch-frozen stats: scores unchanged)
        base_minus = [x for x in base if x[0] != victim]
        assert got[: len(base_minus)] == base_minus, mode


def test_delete_in_match_and_batch(index):
    base = sorted(r["doc_id"] for r in index.match("data").collect())
    victim = base[0]
    deleted = dataclasses.replace(index, tombstones=frozenset({victim}))
    got = sorted(r["doc_id"] for r in reference_match(deleted, "data").collect())
    assert got == [d for d in base if d != victim]
    got_k = sorted(r["doc_id"] for r in deleted.match("data").collect())
    assert got_k == got
    many = deleted.search_many(["data fast", "dup | vector"], k=10).collect()
    assert victim not in {r["doc_id"] for r in many}


def test_facts_restrict_both_paths(index):
    index.define_fact("even_doc", F.col("doc_id") % 2 == 0)
    for mode in ("kernel", "dataframe"):
        got = _top(index, "data", mode=mode, facts=["even_doc"])
        assert got and all(d % 2 == 0 for d, _ in got), mode
    # fact-restricted results == unrestricted results filtered to the fact
    # set and re-topped (scores unchanged)
    base_all = _top(index, "data", k=1000)
    want = [x for x in base_all if x[0] % 2 == 0][:10]
    assert _top(index, "data", facts=["even_doc"]) == want


def test_fact_and_delete_compose(index):
    index.define_fact("even_doc", F.col("doc_id") % 2 == 0)
    base = _top(index, "data", facts=["even_doc"])
    victim = base[0][0]
    deleted = dataclasses.replace(index, tombstones=frozenset({victim}))
    got = _top(deleted, "data", facts=["even_doc"])
    assert victim not in [d for d, _ in got]
    assert all(d % 2 == 0 for d, _ in got)


def test_unknown_fact_raises(index):
    with pytest.raises(KeyError):
        index.search("data", facts=["nope"]).collect()


def test_compact_drops_tombstones(spark, corpus, tmp_path):
    """Compaction must turn the soft-delete mask into a hard delete: the
    rebuilt store contains no postings for tombstoned docs and the new
    epoch's stats exclude them."""
    from bitfunnel_spark import BuildConfig, FullTextIndex
    from bitfunnel_spark.streaming import ingest

    root = str(tmp_path / "idx")
    cfg = BuildConfig(n_slices=2)
    small = corpus.filter("doc_id < 60").cache()
    ingest.compact(spark, root, cfg, small, tombstones=[1, 2, 3])
    live = ingest.read_live_segments(spark, root)
    idx = FullTextIndex.build(
        spark, small.filter("doc_id not in (1,2,3)"), cfg, segments=True
    )
    # every decoded posting doc of the compacted store must avoid 1..3
    import numpy as np

    from bitfunnel_spark.operators.segments import decode_group

    pdf = live.toPandas()
    for _, rows in pdf.groupby(["term_key", "shard", "slice"]):
        d, _t, _p = decode_group(rows)
        assert not np.isin([1, 2, 3], d).any()
    # and the rebuilt-on-filtered-corpus index matches the compacted store
    a = {
        (r["term_key"], r["shard"], r["slice"], r["block_id"], bytes(r["docs_vb"]))
        for r in live.collect()
    }
    b = {
        (r["term_key"], r["shard"], r["slice"], r["block_id"], bytes(r["docs_vb"]))
        for r in idx.segments.collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# indexed fact filter-streams (define_fact_indexed) — the broad-fact scale
# route: the fact is posting rows in stream "fact", ANDed in-kernel like a
# term, where a define_fact set is a semi-join into doc_stats.

@pytest.fixture()
def fcopy(index):
    # fresh registries so fixture-shared state never leaks across tests
    return dataclasses.replace(
        index, facts=dict(index.facts), indexed_facts={}
    )


def test_indexed_fact_matches_array_fact(fcopy):
    fcopy.define_fact("even_a", F.col("doc_id") % 2 == 0)
    fcopy.define_fact_indexed("even_i", F.col("doc_id") % 2 == 0)
    for q in ("data", "data fast", "dup | vector"):
        want = _top(fcopy, q, facts=["even_a"])
        for mode in ("kernel", "dataframe"):
            got = _top(fcopy, q, mode=mode, facts=["even_i"])
            assert got == want, (q, mode)


def test_indexed_fact_match_and_query_syntax(fcopy):
    fcopy.define_fact_indexed("short", F.length("content") < 200)
    want = sorted(
        r["doc_id"]
        for r in fcopy.corpus.filter(F.length("content") < 200)
        .join(fcopy.match("data"), "doc_id", "left_semi").collect()
    )
    got = sorted(r["doc_id"] for r in fcopy.match("data", facts=["short"]).collect())
    assert got == want and got
    # the stream is first-class query surface: fact:short parses and ANDs
    got_q = sorted(r["doc_id"] for r in fcopy.match("fact:short data").collect())
    assert got_q == want


def test_indexed_fact_batch_and_after(fcopy):
    fcopy.define_fact_indexed("even_i", F.col("doc_id") % 2 == 0)
    many = fcopy.search_many(["data fast", "dup | vector"], k=10, facts=["even_i"])
    rows = many.collect()
    assert rows and all(r["doc_id"] % 2 == 0 for r in rows)
    # pagination composes: page 2 equals page of the fact-filtered ranking
    p1 = fcopy.search("data", k=5, facts=["even_i"], mode="kernel").collect()
    cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    p2 = fcopy.search_after("data", cur, k=5, facts=["even_i"]).collect()
    full = _top(fcopy, "data", k=10, facts=["even_i"])
    assert [(r["doc_id"], r["score"]) for r in p1 + p2] == full


def test_indexed_fact_no_cap_no_driver_array(fcopy):
    # a fact of every doc is served on both routes and restricts nothing
    fcopy.define_fact("broad_a", F.col("doc_id") >= 0)
    got = _top(fcopy, "data", facts=["broad_a"])
    assert got and got == _top(fcopy, "data", mode="dataframe")
    fcopy.define_fact_indexed("broad_i", F.col("doc_id") >= 0)
    got = _top(fcopy, "data", facts=["broad_i"])
    assert got == _top(fcopy, "data")  # all-docs fact restricts nothing


def test_indexed_fact_scoring_unchanged(fcopy):
    # filter context: the fact constrains the match set but never scores —
    # surviving docs keep their unrestricted scores
    fcopy.define_fact_indexed("even_i", F.col("doc_id") % 2 == 0)
    base = dict(_top(fcopy, "data fast", k=1000))
    got = _top(fcopy, "data fast", k=20, facts=["even_i"])
    assert got and all(base[d] == s for d, s in got)


def test_indexed_fact_redefine_raises(fcopy):
    fcopy.define_fact_indexed("f1", F.col("doc_id") % 2 == 0)
    with pytest.raises(ValueError, match="already defined"):
        fcopy.define_fact_indexed("f1", F.col("doc_id") % 3 == 0)


def test_filter_only_and_rank_feature_mask_tombstones(index):
    """Corpus-scan query paths (match_all/ids/exists/pinned/standalone
    rank_feature) must mask tombstones like the index paths do."""
    from bitfunnel_spark.plans import serving
    from bitfunnel_spark.plans.dsl import search_dsl

    base = serving.rank_feature(
        index, None, field="doclen", fn="saturation", pivot=8.0, k=5
    ).collect()
    victim = base[0].doc_id
    deleted = dataclasses.replace(index, tombstones=frozenset({victim}))
    got = serving.rank_feature(
        deleted, None, field="doclen", fn="saturation", pivot=8.0, k=5
    ).collect()
    assert victim not in [r.doc_id for r in got]
    assert [r.doc_id for r in got][:4] == [r.doc_id for r in base[1:5]]
    rows = search_dsl(deleted, {"query": {"ids": {"values": [int(victim)]}}})
    assert rows.count() == 0
    ma = search_dsl(deleted, {"query": {"match_all": {}}, "size": 5}).collect()
    assert victim not in [r.doc_id for r in ma]


def test_standalone_routes_honour_facts(fcopy):
    """The scans that run no query (rank_feature and distance_feature with
    query=None, metric_agg over the whole corpus) AND the named fact sets
    in, array and indexed alike: each equals its unrestricted answer
    filtered to the fact by hand."""
    from bitfunnel_spark.plans import serving

    fcopy.define_fact("odd_a", F.col("doc_id") % 2 == 1)
    fcopy.define_fact_indexed("odd_i", F.col("doc_id") % 2 == 1)
    n = fcopy.n_docs
    calls = [
        lambda k, facts: serving.rank_feature(
            fcopy, None, field="doclen", fn="saturation", pivot=8.0, k=k,
            facts=facts),
        lambda k, facts: serving.distance_feature(
            fcopy, None, field="doclen", origin=50.0, pivot=10.0, k=k,
            facts=facts),
    ]
    for call in calls:
        full = [(r.doc_id, r.score) for r in call(n, None).collect()]
        want = [x for x in full if x[0] % 2 == 1][:10]
        for fact in ("odd_a", "odd_i"):
            got = [(r.doc_id, r.score) for r in call(10, [fact]).collect()]
            assert got == want and len(got) == 10, fact
    n_odd = fcopy.corpus.filter(F.col("doc_id") % 2 == 1).count()
    assert 0 < n_odd < n
    for fact in ("odd_a", "odd_i"):
        row = serving.metric_agg(fcopy, None, "value_count", facts=[fact]).first()
        assert row.n_docs == row.value == n_odd, fact
    with pytest.raises(KeyError, match="unknown fact"):
        serving.metric_agg(fcopy, None, "value_count", facts=["nope"])


def test_delete_by_query_ast(index):
    from bitfunnel_spark.plans.dsl import count_dsl, delete_by_query, search_dsl

    idx = dataclasses.replace(index)  # shallow copy: tombstone set is local
    before = count_dsl(idx, {"query": {"match": {"body": "data"}}}).collect()[0][0]
    assert before > 0
    n = delete_by_query(idx, {"query": {"match": {"body": "data"}}})
    assert n == before
    assert count_dsl(idx, {"query": {"match": {"body": "data"}}}).collect()[0][0] == 0
    # idempotent: already-deleted docs never re-match (ES behavior)
    assert delete_by_query(idx, {"query": {"match": {"body": "data"}}}) == 0
    # unrelated queries still serve, minus the overlap
    assert search_dsl(idx, {"query": {"match": {"body": "fast"}}}).count() >= 0
    # the shared fixture index is untouched
    assert count_dsl(index, {"query": {"match": {"body": "data"}}}).collect()[0][0] == before


def test_delete_by_query_range_and_filter_only(index):
    from bitfunnel_spark.plans.dsl import count_dsl, delete_by_query

    idx = dataclasses.replace(index)
    n_range = count_dsl(
        idx, {"query": {"range": {"doc_id": {"lt": 50}}}}
    ).collect()[0][0]
    n = delete_by_query(idx, {"query": {"range": {"doc_id": {"lt": 50}}}})
    assert n == n_range == 50
    # range-bearing bool composes
    n2 = delete_by_query(
        idx, {"query": {"bool": {"must": [{"match": {"body": "data"}}],
                                 "filter": [{"range": {"doc_id": {"lt": 100}}}]}}}
    )
    got = {r.doc_id for r in idx.match("data").collect()}
    assert not {d for d in got if d < 100}
    assert n2 >= 0


def test_delete_by_query_rejects_combinators_and_caps(index, monkeypatch):
    from bitfunnel_spark.plans import dsl as dslmod

    idx = dataclasses.replace(index)
    with pytest.raises(dslmod.DslError, match="AST or filter-only"):
        dslmod.delete_by_query(
            idx, {"query": {"dis_max": {"queries": [{"match": {"body": "x"}}]}}}
        )
    monkeypatch.setattr(dslmod, "MAX_DELETE_DOCS", 3)
    with pytest.raises(dslmod.DslError, match="physical rewrite"):
        dslmod.delete_by_query(idx, {"query": {"range": {"doc_id": {"lt": 50}}}})


def test_indexed_fact_serves_scored_routes(fcopy):
    # the scored serving routes read the same prepared query as search:
    # an indexed fact equals the same predicate as an array fact
    from bitfunnel_spark.plans import serving

    fcopy.define_fact("even_a", F.col("doc_id") % 2 == 0)
    fcopy.define_fact_indexed("even_i", F.col("doc_id") % 2 == 0)
    calls = [
        lambda facts: serving.function_score(fcopy, "data", k=15, facts=facts),
        lambda facts: serving.top_hits(fcopy, "data", by="lang", per_group=2,
                                       facts=facts),
        lambda facts: serving.collapse_topk(fcopy, "data fast", by="repo", k=8,
                                            per_group=2, facts=facts),
    ]
    for call in calls:
        want = call(["even_a"]).collect()
        got = call(["even_i"]).collect()
        assert got == want and got
        assert all(r.doc_id % 2 == 0 for r in got)
