"""Batched multi-query execution must be rank-identical to single-query
search for every query in the log (engine-vs-engine equivalence, §5.2)."""

from tests.conftest import reference_match
from tests.test_kernel_parity import QUERIES


def test_batch_matches_single(index):
    if index.segments is None:
        index.build_segments()
    got = index.search_many(QUERIES, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in enumerate(QUERIES):
        single = [(r["doc_id"], r["score"]) for r in index.search(q, k=10, mode="kernel").collect()]
        batch = sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0]))
        assert batch == single, f"batch/single divergence for {q!r}"


def test_batch_empty_and_absent(index):
    out = index.search_many(["zzzznotaterm", "data"], k=5).collect()
    qids = {r["query_id"] for r in out}
    assert 0 not in qids and 1 in qids


def test_match_many_equals_single_match(index):
    from bitfunnel_spark.plans.batch import match_many

    got = match_many(index, QUERIES).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["doc_id"])
    for qid, q in enumerate(QUERIES):
        single = sorted(r["doc_id"] for r in reference_match(index, q).collect())
        assert sorted(by_q.get(qid, [])) == single, f"match_many mismatch for {q!r}"
    # disjoint groups: no duplicate (query, doc) pairs
    assert len(got) == len({(r["query_id"], r["doc_id"]) for r in got})


def test_percolate(spark, corpus, index):
    from bitfunnel_spark.plans.batch import percolate

    queries = ["data -slow", "spark & join", "zzqq"]
    got = percolate(spark, corpus, queries).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    for qid, q in enumerate(queries):
        want = {r["doc_id"] for r in reference_match(index, q).collect()}
        assert by_q.get(qid, set()) == want, f"percolate mismatch for {q!r}"
    assert 2 not in by_q  # the absent-term query matches nothing
