"""Elasticsearch 8.x vector-search surface over the embedding table.

Two entry points:

- ``knn_search(emb, body)`` — the top-level ``knn`` search body
  (field / query_vector / k / num_candidates / filter / similarity):
  exact pre-filtered cosine top-k. ES applies ``filter`` BEFORE the
  vector search (pre-filter contract) — so do we: the predicate lands in
  the parquet scan's PushedFilters, then one embarrassingly-parallel
  scored scan and a k-row TakeOrderedAndProject. ``mode="lsh"`` swaps the
  candidate set to the query vector's axis-LSH bucket — the 10^9-vector
  scale path (bucket pruning instead of a full scan), same output schema.

- ``rrf_search(index, emb, body)`` — the ``retriever.rrf`` hybrid body
  (ES 8.14): reciprocal-rank fusion of one ``standard`` (BM25 over the
  full-text index) retriever and one ``knn`` retriever.
  rrf_score(d) = Σ_r 1/(rank_constant + rank_r(d)) over the retrievers
  that returned d in their top rank_window_size. Both retriever results
  are ≤window-row frames, so the fusion join is a broadcast of k-row
  sides — no corpus-sized shuffle ever happens at fusion time.

Reference analogue: BitFunnel has no vector path (its experiments are
term-only; src/Plan/src/QueryRunner.cpp drives term queries) — this
module is part of the beyond-reference modern-search surface, API-shaped
after the public Elasticsearch 8 `_search` contract.

Cross-engine determinism: cosine uses the strict sequential fold from
operators/similarity.py (accumulation order matches DuckDB's
list_dot_product); ranks are integers over a total (rounded score,
doc_id) order, so rrf_score is a sum of exactly-representable
reciprocals computed identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.operators.similarity import (
    axis_bucket_expr,
    cosine_expr,
)
from bitfunnel_spark.plans.dsl import DslError, _require, compile_dsl
from bitfunnel_spark.plans.serving import rank_window


def _vec_literal(qv: list[float]) -> Column:
    return F.array(*[F.lit(float(x)).cast("double") for x in qv])


def _compile_filter(emb: DataFrame, spec) -> Column:
    """ES knn ``filter`` → a Column predicate over the embedding table's
    metadata columns. Supported: term / range / bool(filter, must_not) of
    those — the pre-filterable shapes. Anything else raises DslError
    (mis-executing a filter silently would violate the pre-filter
    contract)."""
    _require(isinstance(spec, dict) and len(spec) == 1,
             f"knn filter must be a single clause, got {spec!r}")
    kind, conf = next(iter(spec.items()))
    cols = set(emb.columns)

    def _field(name: str) -> Column:
        _require(name in cols, f"unknown filter field {name!r} (have {sorted(cols)})")
        return F.col(name)

    if kind == "term":
        _require(isinstance(conf, dict) and len(conf) == 1, "term takes one field")
        field, value = next(iter(conf.items()))
        if isinstance(value, dict):  # {"term": {"f": {"value": v}}}
            _require(set(value) == {"value"}, f"unsupported term options: {value}")
            value = value["value"]
        return _field(field) == F.lit(value)
    if kind == "range":
        _require(isinstance(conf, dict) and len(conf) == 1, "range takes one field")
        field, bounds = next(iter(conf.items()))
        _require(isinstance(bounds, dict) and bounds
                 and set(bounds) <= {"gte", "gt", "lte", "lt"},
                 f"range bounds must be gte/gt/lte/lt, got {bounds!r}")
        col, pred = _field(field), F.lit(True)
        ops = {"gte": col.__ge__, "gt": col.__gt__, "lte": col.__le__, "lt": col.__lt__}
        for op, bound in bounds.items():
            pred = pred & ops[op](F.lit(bound))
        return pred
    if kind == "bool":
        _require(isinstance(conf, dict) and conf
                 and set(conf) <= {"filter", "must_not"},
                 "knn bool filter supports filter/must_not clauses")
        pred = F.lit(True)
        for clause in _as_list(conf.get("filter")):
            pred = pred & _compile_filter(emb, clause)
        for clause in _as_list(conf.get("must_not")):
            pred = pred & ~_compile_filter(emb, clause)
        return pred
    raise DslError(f"unsupported knn filter kind {kind!r}")


def _as_list(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _knn_spec(body: dict) -> dict:
    spec = body.get("knn", body)
    _require(isinstance(spec, dict), "knn body must be an object")
    unknown = set(spec) - {"field", "query_vector", "k", "num_candidates",
                           "filter", "similarity"}
    _require(not unknown, f"unsupported knn options: {sorted(unknown)}")
    qv = spec.get("query_vector")
    _require(isinstance(qv, (list, tuple)) and qv
             and all(isinstance(x, (int, float)) for x in qv),
             "knn needs a numeric query_vector")
    k = int(spec.get("k", 10))
    num_candidates = int(spec.get("num_candidates", max(k, 100)))
    _require(num_candidates >= k,
             f"num_candidates ({num_candidates}) must be >= k ({k})")
    return {
        "field": spec.get("field", "embedding"),
        "query_vector": [float(x) for x in qv],
        "k": k,
        "num_candidates": num_candidates,
        "filter": spec.get("filter"),
        "similarity": spec.get("similarity"),
    }


def knn_search(
    emb: DataFrame,
    body: dict,
    id_col: str = "vec_id",
    mode: str = "exact",
) -> DataFrame:
    """ES top-level ``knn`` body → DataFrame[(vec_id, cosine)], cosine
    rounded to 4 dp, ordered (cosine desc, vec_id asc), k rows.

    ``mode="exact"`` scores every (pre-filtered) row — the oracle path;
    ``num_candidates`` is validated (>= k) but does not change exact
    results, mirroring ES where it only tunes the ANN beam.
    ``mode="lsh"`` restricts candidates to the query vector's axis-LSH
    sign bucket (operators/similarity.axis_bucket_expr) — the bucketed
    scale path; recall < 1 by construction, like any ANN beam.
    ``similarity`` (ES 8.8) is a minimum raw-cosine cutoff applied after
    scoring."""
    spec = _knn_spec(body)
    vec_col = spec["field"]
    _require(vec_col in emb.columns,
             f"unknown knn field {vec_col!r} (have {sorted(emb.columns)})")
    qlit = _vec_literal(spec["query_vector"])
    cand = emb
    if spec["filter"] is not None:
        cand = cand.filter(_compile_filter(emb, spec["filter"]))
    if mode == "lsh":
        # bucket id of a literal vector is itself a literal fold — the
        # candidate scan prunes to one bucket, no shuffle
        cand = cand.filter(
            axis_bucket_expr(F.col(vec_col)) == axis_bucket_expr(qlit)
        )
    elif mode != "exact":
        raise DslError(f"unknown knn mode {mode!r}")
    cos = cosine_expr(qlit, F.col(vec_col))
    scored = cand.select(
        F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cosine")
    )
    if spec["similarity"] is not None:
        scored = scored.filter(F.col("cosine") >= float(spec["similarity"]))
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(spec["k"])


def rerank_search(index, emb: DataFrame, body: dict) -> DataFrame:
    """ES 8.15 ``retriever.text_similarity_reranker``: run the inner
    retriever for its top ``rank_window_size`` hits, then REORDER that
    window by embedding cosine to the query vector and return the top
    ``size`` → DataFrame[(doc_id, rerank_score)], ordered
    (rerank_score desc, doc_id asc).

    Deviation (documented): ES sends (inference_text, window docs) to a
    hosted rerank model; this engine substitutes the corpus embedding
    column scored against an explicit ``query_vector`` — exactly the
    bi-encoder shape of such a reranker, minus the hosted model. The
    rerank join touches only the window's ≤rank_window_size rows
    (broadcast into the embedding scan — never a corpus-sized shuffle),
    so rerank cost is O(window), independent of corpus size."""
    retriever = body.get("retriever")
    _require(isinstance(retriever, dict)
             and set(retriever) == {"text_similarity_reranker"},
             "rerank_search needs a `retriever.text_similarity_reranker` body")
    conf = dict(retriever["text_similarity_reranker"])
    inner = conf.pop("retriever", None)
    window = int(conf.pop("rank_window_size", 50))
    field = conf.pop("field", "embedding")
    qv = conf.pop("query_vector", None)
    _require(not conf, f"unsupported reranker options: {sorted(conf)}")
    _require(isinstance(inner, dict) and len(inner) == 1,
             "reranker needs one inner retriever (standard or knn)")
    _require(isinstance(qv, (list, tuple)) and qv,
             "reranker needs a numeric query_vector (the bi-encoder "
             "stand-in for ES's hosted inference model)")
    _require(field in emb.columns, f"unknown rerank field {field!r}")
    size = int(body.get("size", 10))
    _require(window >= size,
             f"rank_window_size ({window}) must be >= size ({size})")
    kind, iconf = next(iter(inner.items()))
    if kind == "standard":
        _require(isinstance(iconf, dict) and set(iconf) == {"query"},
                 "standard retriever takes a `query`")
        hits = index.search(compile_dsl(iconf["query"]), k=window)
        win = hits.select("doc_id")
    elif kind == "knn":
        spec = _knn_spec({"knn": iconf})
        kn = knn_search(emb, {"knn": {
            "field": spec["field"], "query_vector": spec["query_vector"],
            "k": window, "num_candidates": max(spec["num_candidates"], window),
            **({"filter": spec["filter"]} if spec["filter"] is not None else {}),
        }})
        win = kn.select(F.col("vec_id").alias("doc_id"))
    else:
        raise DslError(f"unsupported inner retriever kind {kind!r}")
    qlit = _vec_literal([float(x) for x in qv])
    scored = F.broadcast(win).join(
        emb.select(F.col("vec_id").alias("doc_id"), F.col(field).alias("_v")),
        "doc_id",
    )
    return (
        scored.select(
            "doc_id",
            F.round(cosine_expr(qlit, F.col("_v")), 4).alias("rerank_score"),
        )
        .orderBy(F.desc("rerank_score"), F.asc("doc_id"))
        .limit(size)
    )


def _rrf_spec(body: dict) -> tuple[list[tuple[str, dict]], int, int, int]:
    """Validate a retriever.rrf body → (retrievers, rank_constant, window,
    size). Each retriever is ("standard", query_dict) or ("knn", knn_spec);
    ES allows any mix and count >= 2."""
    retriever = body.get("retriever")
    _require(isinstance(retriever, dict) and set(retriever) == {"rrf"},
             "rrf_search needs a `retriever.rrf` body")
    rrf = retriever["rrf"]
    _require(isinstance(rrf, dict)
             and set(rrf) <= {"retrievers", "rank_constant", "rank_window_size"},
             f"unsupported rrf options: {sorted(set(rrf) - {'retrievers'})}")
    rank_constant = int(rrf.get("rank_constant", 60))
    _require(rank_constant >= 1, "rank_constant must be >= 1")
    retrievers = rrf.get("retrievers")
    _require(isinstance(retrievers, list) and len(retrievers) >= 2,
             "rrf needs at least two retrievers")
    out: list[tuple[str, dict]] = []
    for r in retrievers:
        _require(isinstance(r, dict) and len(r) == 1,
                 f"each retriever is a single-kind object, got {r!r}")
        kind, conf = next(iter(r.items()))
        if kind == "standard":
            _require(isinstance(conf, dict) and set(conf) == {"query"},
                     "standard retriever takes a `query`")
            out.append(("standard", conf["query"]))
        elif kind == "knn":
            out.append(("knn", _knn_spec({"knn": conf})))
        else:
            raise DslError(f"unsupported retriever kind {kind!r}")
    size = int(body.get("size", 10))
    window = int(rrf.get("rank_window_size", max(size, 10)))
    _require(window >= size,
             f"rank_window_size ({window}) must be >= size ({size})")
    return out, rank_constant, window, size


def rrf_search(index, emb: DataFrame, body: dict) -> DataFrame:
    """ES 8.14 ``retriever.rrf`` hybrid search →
    DataFrame[(doc_id, rrf_score)], ordered (rrf_score desc, doc_id asc),
    ``size`` rows.

    Any mix of `standard` / `knn` retrievers (>= 2, like ES). Each runs
    through its own engine-native top-window path (BM25 kernel search /
    exact knn); ranks are 1..n over each retriever's total
    (score desc, id asc) order (``serving.rank_window``); fusion is a
    chain of full outer joins of ≤window-row frames — driver-scale
    frames, broadcast by AQE, no corpus shuffle. Documents outside a retriever's window contribute 0 from
    that retriever (ES contract)."""
    retrievers, rank_constant, window, size = _rrf_spec(body)

    ranked = []
    for i, (kind, conf) in enumerate(retrievers):
        if kind == "standard":
            hits = index.search(compile_dsl(conf), k=window)
            ranked.append(rank_window(hits, "score", "doc_id", f"r_{i}"))
        else:
            kn = knn_search(emb, {"knn": {
                "field": conf["field"],
                "query_vector": conf["query_vector"],
                "k": window,
                "num_candidates": max(conf["num_candidates"], window),
                **({"filter": conf["filter"]} if conf["filter"] is not None else {}),
            }})
            ranked.append(rank_window(kn, "cosine", "vec_id", f"r_{i}")
                          .withColumnRenamed("vec_id", "doc_id"))
    fused = ranked[0]
    for nxt in ranked[1:]:
        fused = fused.join(nxt, "doc_id", "full_outer")
    # rrf_score is left UNrounded: ranks are small integers, so both
    # engines compute the identical IEEE-double sum of reciprocals
    # (cross-engine float parity needs bit-identical values, and round()
    # tie rules differ between engines — don't pre-round). The sum is
    # built in retriever order, matching the oracle's written order.
    score = F.lit(0.0)
    for i in range(len(ranked)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(rank_constant) + F.col(f"r_{i}")), F.lit(0.0)
        )
    fused = fused.select("doc_id", score.alias("rrf_score"))
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(size)
