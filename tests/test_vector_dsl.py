"""ES 8.x vector-search surface (plans/vector_dsl.py): top-level `knn`
body + retriever.rrf hybrid fusion."""

import pytest
from pyspark.sql import functions as F

from bitfunnel_spark.operators import similarity
from bitfunnel_spark.plans.dsl import DslError
from bitfunnel_spark.plans.vector_dsl import knn_search, rrf_search
from tests.test_serving import unpartitioned_windows

TESTDATA = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{TESTDATA}/embeddings.parquet").cache()


def _qv(emb, vec_id=7):
    row = emb.filter(F.col("vec_id") == vec_id).head()
    return [float(x) for x in row.embedding]


def test_knn_exact_matches_brute(spark, emb):
    # same query vector as brute_cosine_topk's query_ids path; knn does
    # NOT exclude the query row (ES contract: the vector is external), so
    # compare against brute + the self row on top
    got = knn_search(emb, {"knn": {"query_vector": _qv(emb), "k": 6}}).collect()
    brute = similarity.brute_cosine_topk(emb, [7], k=5).collect()
    assert [(r.vec_id, r.cosine) for r in got] == (
        [(7, 1.0)] + [(r.vec_id, r.cosine) for r in brute]
    )


def test_knn_prefilter_contract(spark, emb):
    body = {"knn": {
        "query_vector": _qv(emb), "k": 5,
        "filter": {"term": {"label": 1}},
    }}
    got = knn_search(emb, body).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert len(got) == 5 and all(labels[r.vec_id] == 1 for r in got)
    # pre-filter, not post-filter: k survivors even though the global
    # top-5 mostly has other labels
    unfiltered = knn_search(emb, {"knn": {"query_vector": _qv(emb), "k": 5}}).collect()
    assert {r.vec_id for r in got} != {r.vec_id for r in unfiltered}


def test_knn_filter_pushes_to_scan(spark):
    # sf0.01 path: the sf0.001 read is .cache()d by the module fixture and
    # Spark cache-matches by logical plan, which would hide the parquet
    # scan behind InMemoryTableScan
    fresh = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    df = knn_search(fresh, {"knn": {
        "query_vector": [1.0] * 64, "k": 3, "filter": {"term": {"label": 1}},
    }})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(label,1)" in plan


def test_knn_bool_filter_and_range(spark, emb):
    body = {"knn": {
        "query_vector": _qv(emb), "k": 50,
        "filter": {"bool": {
            "filter": [{"range": {"label": {"gte": 2, "lt": 8}}}],
            "must_not": [{"term": {"label": 5}}],
        }},
    }}
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    got = knn_search(emb, body).collect()
    assert got and all(2 <= labels[r.vec_id] < 8 and labels[r.vec_id] != 5 for r in got)


def test_knn_similarity_cutoff(spark, emb):
    base = knn_search(emb, {"knn": {"query_vector": _qv(emb), "k": 10}}).collect()
    cut = base[2].cosine
    got = knn_search(
        emb, {"knn": {"query_vector": _qv(emb), "k": 10, "similarity": cut}}
    ).collect()
    assert all(r.cosine >= cut for r in got)
    assert {r.vec_id for r in got} == {r.vec_id for r in base if r.cosine >= cut}


def test_knn_lsh_mode_prunes_to_bucket(spark, emb):
    qv = _qv(emb)
    got = knn_search(emb, {"knn": {"query_vector": qv, "k": 50}}, mode="lsh").collect()
    bucketed = emb.select(
        "vec_id", similarity.axis_bucket_expr(F.col("embedding")).alias("b")
    ).collect()
    import numpy as np

    qb = sum(2**i for i, d in enumerate(similarity.AXIS_DIMS) if np.float64(qv[d]) > 0)
    in_bucket = {r.vec_id for r in bucketed if r.b == qb}
    assert got and {r.vec_id for r in got} <= in_bucket


def test_knn_validation_errors(spark, emb):
    qv = [1.0] * 64
    with pytest.raises(DslError):
        knn_search(emb, {"knn": {"query_vector": qv, "k": 10, "num_candidates": 5}})
    with pytest.raises(DslError):
        knn_search(emb, {"knn": {"query_vector": qv, "filter": {"exists": {"field": "x"}}}})
    with pytest.raises(DslError):
        knn_search(emb, {"knn": {"query_vector": qv, "field": "nope"}})
    with pytest.raises(DslError):
        knn_search(emb, {"knn": {"query_vector": qv, "filter": {"term": {"nope": 1}}}})
    with pytest.raises(DslError):
        knn_search(emb, {"knn": {"query_vector": []}})
    with pytest.raises(DslError):
        knn_search(emb, {"knn": {"query_vector": qv, "knn_weirdness": 1}})


def _rrf_body(qv, std_query, window=20, size=10, rank_constant=60):
    return {
        "retriever": {"rrf": {
            "retrievers": [
                {"standard": {"query": std_query}},
                {"knn": {"query_vector": qv, "k": window, "num_candidates": 100}},
            ],
            "rank_constant": rank_constant,
            "rank_window_size": window,
        }},
        "size": size,
    }


def test_rrf_fuses_both_retrievers(spark, index, emb):
    qv = _qv(emb)
    std = {"match": {"content": "data fast"}}
    window = 20
    got = rrf_search(index, emb, _rrf_body(qv, std, window=window)).collect()
    assert len(got) == 10

    # recompute expected fusion from the two retrievers' own outputs
    from bitfunnel_spark.plans.dsl import compile_dsl

    bm = index.search(compile_dsl(std), k=window, mode="kernel").collect()
    kn = knn_search(emb, {"knn": {"query_vector": qv, "k": window}}).collect()
    r_bm = {r.doc_id: i + 1 for i, r in enumerate(bm)}
    r_kn = {r.vec_id: i + 1 for i, r in enumerate(kn)}
    scores = {
        d: (1.0 / (60 + r_bm[d]) if d in r_bm else 0.0)
        + (1.0 / (60 + r_kn[d]) if d in r_kn else 0.0)
        for d in set(r_bm) | set(r_kn)
    }
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.doc_id, pytest.approx(r.rrf_score)) for r in got] == want
    # a doc in both windows outscores rank-1 of a single retriever only
    # via summed reciprocals — assert at least one fused doc exists when
    # the windows overlap (sanity that fusion isn't a concat)
    both = set(r_bm) & set(r_kn)
    if both:
        assert any(r.doc_id in both for r in got)


def test_rrf_ranks_without_a_global_window(spark, index, emb):
    # each retriever's ≤window rows are ranked without a row_number over an
    # unpartitioned window (a single-partition WindowExec)
    got = rrf_search(index, emb, _rrf_body(_qv(emb), {"match": {"content": "data fast"}}))
    assert got.collect()
    assert unpartitioned_windows(got) == []


def test_rrf_validation(spark, index, emb):
    qv = [1.0] * 64
    with pytest.raises(DslError):
        rrf_search(index, emb, {"retriever": {"rrf": {"retrievers": []}}})
    with pytest.raises(DslError):
        rrf_search(index, emb, {"query": {"match_all": {}}})
    body = _rrf_body(qv, {"match": {"content": "data"}}, window=5, size=10)
    with pytest.raises(DslError):
        rrf_search(index, emb, body)  # window < size
    with pytest.raises(DslError):
        rrf_search(index, emb, {"retriever": {"rrf": {"retrievers": [
            {"standard": {"query": {"match": {"content": "data"}}}},
        ]}}})  # fewer than two retrievers


def test_rrf_three_retrievers_any_mix(spark, index, emb):
    # ES allows any mix/count of retrievers — two knn + one standard
    qa, qb = _qv(emb, 7), _qv(emb, 3)
    window = 15
    body = {
        "retriever": {"rrf": {
            "retrievers": [
                {"knn": {"query_vector": qa, "k": window}},
                {"standard": {"query": {"match": {"content": "data fast"}}}},
                {"knn": {"query_vector": qb, "k": window}},
            ],
            "rank_constant": 10,
            "rank_window_size": window,
        }},
        "size": 8,
    }
    got = rrf_search(index, emb, body).collect()
    assert len(got) == 8

    from bitfunnel_spark.plans.dsl import compile_dsl

    ka = knn_search(emb, {"knn": {"query_vector": qa, "k": window}}).collect()
    bm = index.search(compile_dsl({"match": {"content": "data fast"}}),
                      k=window, mode="kernel").collect()
    kb = knn_search(emb, {"knn": {"query_vector": qb, "k": window}}).collect()
    ranks = [
        {r.vec_id: i + 1 for i, r in enumerate(ka)},
        {r.doc_id: i + 1 for i, r in enumerate(bm)},
        {r.vec_id: i + 1 for i, r in enumerate(kb)},
    ]
    docs = set().union(*ranks)
    scores = {d: sum(1.0 / (10 + rk[d]) for rk in ranks if d in rk) for d in docs}
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [(r.doc_id, pytest.approx(r.rrf_score)) for r in got] == want


def test_rerank_standard_window(spark, index, emb):
    from bitfunnel_spark.plans.dsl import compile_dsl
    from bitfunnel_spark.plans.vector_dsl import rerank_search

    qv = _qv(emb)
    body = {
        "retriever": {"text_similarity_reranker": {
            "retriever": {"standard": {"query": {"match": {"content": "data fast"}}}},
            "rank_window_size": 20,
            "query_vector": qv,
        }},
        "size": 5,
    }
    got = rerank_search(index, emb, body).collect()
    assert len(got) == 5
    # recompute: the window is the BM25 top-20; rerank order is cosine
    win = [r.doc_id for r in index.search(
        compile_dsl({"match": {"content": "data fast"}}), k=20, mode="kernel"
    ).collect()]
    cos = {r.vec_id: r.cosine for r in knn_search(
        emb, {"knn": {"query_vector": qv, "k": 500}}).collect()}
    want = sorted(((d, cos[d]) for d in win), key=lambda t: (-t[1], t[0]))[:5]
    assert [(r.doc_id, r.rerank_score) for r in got] == want
    # the reranker must NOT admit docs outside the window
    assert all(r.doc_id in set(win) for r in got)


def test_rerank_knn_inner_and_validation(spark, index, emb):
    import pytest as _pytest

    from bitfunnel_spark.plans.vector_dsl import rerank_search

    qa, qb = _qv(emb, 7), _qv(emb, 3)
    # knn inner retriever, reranked by a DIFFERENT vector
    body = {
        "retriever": {"text_similarity_reranker": {
            "retriever": {"knn": {"query_vector": qa, "k": 20}},
            "rank_window_size": 20,
            "query_vector": qb,
        }},
        "size": 5,
    }
    got = rerank_search(index, emb, body).collect()
    win = {r.vec_id for r in knn_search(emb, {"knn": {"query_vector": qa, "k": 20}}).collect()}
    assert len(got) == 5 and all(r.doc_id in win for r in got)
    with _pytest.raises(DslError):
        rerank_search(index, emb, {"retriever": {"text_similarity_reranker": {
            "retriever": {"standard": {"query": {"match": {"content": "x"}}}},
            "rank_window_size": 3, "query_vector": qa}}, "size": 5})
    with _pytest.raises(DslError):
        rerank_search(index, emb, {"retriever": {"text_similarity_reranker": {
            "retriever": {"standard": {"query": {"match": {"content": "x"}}}},
            "query_vector": qa, "model_id": "elser"}}})
