"""Per-query instrumentation (plans/profile.py) + CLI verify helper."""

import pytest

from tests.conftest import reference_match, reference_search


@pytest.fixture(scope="module")
def prof_index(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build_fused(spark, corpus, BuildConfig(n_slices=4, block_size=8))


def test_profile_many_counts_blocks(prof_index):
    from bitfunnel_spark.plans.profile import profile_many, summarize

    queries = ["data", "data & the", "dup | vector", '"batch batch" data']
    metrics, timings = profile_many(prof_index, queries, k=3)
    rows = {r["query_id"]: r for r in summarize(metrics).collect()}
    assert set(rows) <= set(range(len(queries)))
    for qid, r in rows.items():
        assert r["blocks_total"] >= r["blocks_decoded"] >= 0, qid
        assert 0.0 <= r["skip_ratio"] <= 1.0
    # the pruned paths must actually skip on the common-term queries
    assert rows[1]["blocks_decoded"] < rows[1]["blocks_total"]
    assert timings["parse_ms"] >= 0 and timings["n_queries"] == 4


def test_profile_rows_match_search(prof_index):
    """The instrumented run must report the same per-group result volume the
    real batch path produces (metrics are observation, not perturbation)."""
    from pyspark.sql import functions as F

    from bitfunnel_spark.plans.profile import profile_many

    queries = ["data fast", "dup | vector"]
    metrics, _ = profile_many(prof_index, queries, k=10)
    got = {
        r["query_id"]: r["rows"]
        for r in metrics.groupBy("query_id").agg(F.sum("rows").alias("rows")).collect()
    }
    res = prof_index.search_many(queries, k=10)
    want_present = {r["query_id"] for r in res.collect()}
    # every query with results must report >= k candidate rows across groups
    for qid in want_present:
        assert got.get(qid, 0) >= len(
            [r for r in res.collect() if r["query_id"] == qid]
        )


def test_cli_verify_one(prof_index):
    from bitfunnel_spark.cli import _verify_one

    res = _verify_one(prof_index, "data -slow", 10)
    assert res["ok"] and not res["false_positives"] and not res["false_negatives"]


def test_profile_many_dot_tf_prunes(prof_index):
    """Sparse (dot_tf) queries report real decode counters: a skewed-weight
    sparse query must skip blocks of the low-weight term, and the profiled
    rows must agree with the result kernel's hit count."""
    from bitfunnel_spark.plans.ast import Boost, Or, Term
    from bitfunnel_spark.plans.profile import profile_many, summarize

    # heavy weight on a rare-ish term, tiny weight on a very common one —
    # the MaxScore shape where the common term's blocks can't reach the
    # top-k threshold
    # the light term's blocks decode only where a candidate lives (exact
    # scoring needs them); a mid-frequency heavy term keeps candidate
    # density low enough that whole light-term blocks are skipped
    node = Or((Boost(Term("dup", "body"), 50.0),
               Boost(Term("the", "body"), 0.01)))
    metrics, _ = profile_many(prof_index, [node], k=2, similarity="dot_tf")
    row = summarize(metrics).collect()[0]
    assert row["blocks_total"] > 0
    assert 0 < row["blocks_decoded"] < row["blocks_total"], dict(row.asDict())
    hits = prof_index.search(node, k=2, mode="kernel", similarity="dot_tf")
    assert row["rows"] >= hits.count() > 0


def test_profile_many_rejects_non_prunable_similarity(prof_index):
    from bitfunnel_spark.plans.profile import profile_many

    with pytest.raises(ValueError):
        profile_many(prof_index, ["data"], k=3, similarity="classic")


# ---------------------------------------------------------------------------
# profiling runs the production kernel: same restrictions, same phrase
# routing, same result volume as search

TOMBSTONED_QUERIES = ["data fast", "dup | vector", "data -slow"]


@pytest.fixture(scope="module")
def tombstoned_index(prof_index):
    """prof_index with every doc matched by TOMBSTONED_QUERIES deleted."""
    import dataclasses

    victims = {
        r["doc_id"] for q in TOMBSTONED_QUERIES for r in prof_index.match(q).collect()
    }
    assert victims
    return dataclasses.replace(prof_index, tombstones=frozenset(victims))


@pytest.fixture(scope="module")
def gram_index(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build_fused(
        spark, corpus, BuildConfig(n_slices=4, block_size=8, max_gram_size=2)
    )


def _profile_rows(index, queries, k, facts=None):
    from pyspark.sql import functions as F

    from bitfunnel_spark.plans.profile import profile_many

    metrics, _ = profile_many(index, queries, k=k, facts=facts)
    agg = metrics.groupBy("query_id").agg(F.sum("rows").alias("rows")).collect()
    return {r["query_id"]: r["rows"] for r in agg}


def _search_rows(index, queries, k):
    out: dict = {}
    for r in index.search_many(queries, k=k).collect():
        out[r["query_id"]] = out.get(r["query_id"], 0) + 1
    return out


def test_profile_honours_tombstones(tombstoned_index):
    """Profiles count the execution that runs: with every matched doc
    tombstoned, search_many returns nothing and profile_many reports 0
    rows per query."""
    assert _search_rows(tombstoned_index, TOMBSTONED_QUERIES, 10) == {}
    got = _profile_rows(tombstoned_index, TOMBSTONED_QUERIES, 10)
    assert got == {qid: 0 for qid in range(len(TOMBSTONED_QUERIES))}


@pytest.mark.parametrize(
    "case, queries",
    [
        ("tombstoned", TOMBSTONED_QUERIES + ["the"]),
        ("grams", ['"batch batch"', '"batch batch" data', 'data -"slow sort"']),
    ],
)
def test_profile_rows_equal_search_rows(request, case, queries):
    """Per query, profiled rows equal search_many rows (k covers every match
    so no per-group top-k truncates): profiling plans restrictions and
    phrases — gram-eligible ones from the gram posting list — as search
    does."""
    index = request.getfixturevalue("tombstoned_index" if case == "tombstoned" else "gram_index")
    k = index.n_docs
    want = _search_rows(index, queries, k)
    got = _profile_rows(index, queries, k)
    assert want, case
    assert {q: n for q, n in got.items() if n} == want


RESTRICTED_QUERIES = ["data", "data fast", "dup | vector", "data -slow", '"batch batch" data']


def _restricted(index, case):
    """(index copy, facts) carrying one restriction case: a doclen range,
    an ids set, an empty restriction, range ∩ tombstones, range ∩ a
    define_fact set, a define_fact set alone."""
    import dataclasses

    from pyspark.sql import functions as F

    in_range = index.doc_stats.filter(
        (F.col("doclen") >= 40) & (F.col("doclen") <= 200)).select("doc_id")
    data_ids = sorted(r[0] for r in index.match("data").collect())
    facts = None
    idx = dataclasses.replace(index)
    if case == "range":
        idx._restrict_docs = in_range
    elif case == "ids":
        idx._restrict_docs = index.corpus.select("doc_id").filter(
            F.col("doc_id").isin(data_ids[::3]))
    elif case == "empty":
        idx._restrict_docs = index.doc_stats.filter(F.lit(False)).select("doc_id")
    elif case == "tombstones":
        idx = dataclasses.replace(index, tombstones=frozenset(data_ids[::2]))
        idx._restrict_docs = in_range
    else:  # facts, facts_only
        even = index.corpus.filter(F.col("doc_id") % 2 == 0).select("doc_id")
        idx = dataclasses.replace(index, facts={**index.facts, "even": even})
        if case == "facts":
            idx._restrict_docs = in_range
        facts = ["even"]
    return idx, facts


@pytest.mark.parametrize(
    "case", ["range", "ids", "empty", "tombstones", "facts", "facts_only"])
@pytest.mark.parametrize("index_name", ["index", "prof_index"])
def test_restriction_honoured_on_every_path(request, index_name, case):
    """An index copy carrying a doc-metadata restriction is served by the
    single, batch, match and profile paths of the kernel, each equal to the
    declarative reference executor under the same restriction. prof_index is the
    block_size=8 fused index (test_blockmax's shape), so block-max
    thresholds run with an allow array; ``index`` is the row-form build."""
    from bitfunnel_spark.plans.batch import match_many, search_many
    from bitfunnel_spark.plans.kernel import match_kernel, search_kernel

    idx, facts = _restricted(request.getfixturevalue(index_name), case)
    top, matched = {}, {}
    for qid, q in enumerate(RESTRICTED_QUERIES):
        top[qid] = [(r.doc_id, r.score)
                    for r in reference_search(idx, q, k=10, facts=facts).collect()]
        matched[qid] = sorted(r.doc_id for r in reference_match(idx, q, facts).collect())
        got = [(r.doc_id, r.score) for r in search_kernel(idx, q, k=10, facts=facts).collect()]
        assert got == top[qid], q
        assert sorted(r.doc_id for r in match_kernel(idx, q, facts).collect()) == matched[qid], q
    many: dict = {}
    for r in search_many(idx, RESTRICTED_QUERIES, k=10, facts=facts).collect():
        many.setdefault(r.query_id, []).append((r.doc_id, r.score))
    assert {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in many.items()} == {
        q: v for q, v in top.items() if v}
    sets: dict = {}
    for r in match_many(idx, RESTRICTED_QUERIES, facts=facts).collect():
        sets.setdefault(r.query_id, []).append(r.doc_id)
    assert {q: sorted(v) for q, v in sets.items()} == {q: v for q, v in matched.items() if v}
    # k covers every match, so per-group rows sum to the match-set size
    got = _profile_rows(idx, RESTRICTED_QUERIES, idx.n_docs, facts)
    assert {q: n for q, n in got.items() if n} == {
        q: len(v) for q, v in matched.items() if v}
    if case == "empty":
        assert not any(matched.values())
    else:
        assert any(matched.values())  # the case exercises a non-empty result


def test_profile_reads_gram_postings(gram_index):
    """A gram-eligible phrase is profiled through its gram posting list, as
    search reads it: its block footprint is the constituent's blocks plus
    the gram term's."""
    from bitfunnel_spark.plans.profile import profile_many, summarize

    metrics, _ = profile_many(gram_index, ["batch", '"batch batch"'], k=10)
    rows = {r["query_id"]: r for r in summarize(metrics).collect()}
    assert rows[1]["blocks_total"] > rows[0]["blocks_total"] > 0
