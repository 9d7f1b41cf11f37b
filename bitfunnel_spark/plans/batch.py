"""Batched multi-query execution — one Spark job for a whole query log.

The reference's benchmark driver round-robins a query log over N threads in
one process (/root/reference/src/Plan/src/QueryRunner.cpp:282-402). The
Spark-native analogue (SURVEY §2.5 "Multi-query benchmark driver"): the
whole log runs through the one query kernel (plans/kernel.run_log) — one
descriptor, one scan of the union of the queries' segments, every query
evaluated inside each (shard, slice) group over a shared block decode
cache — and per-query top-k comes from a single window. One job amortizes
scheduling + Python-worker startup across the whole log; a single
kernel-path query is the same kernel over a log of one. This is how
high-QPS serving should run on a cluster: queries become data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bitfunnel_spark.plans.kernel import run_log
from bitfunnel_spark.plans.planner import QueryPlan, plan_query


def plan_log(
    index, queries: list, facts: list[str] | None = None
) -> tuple[list[QueryPlan], list[str] | None]:
    """(plans, residual_facts) for a query log: each query is prepared
    (synonyms, expansions), its indexed facts become filter-context
    conjuncts, and it is planned — once per query, on the driver."""
    residual = facts
    plans = []
    for q in queries:
        node, residual = index._apply_indexed_facts(index.prepare_query(q), facts)
        plans.append(plan_query(node))
    return plans, residual


def search_many(index, queries: list[str], k=10, facts: list[str] | None = None) -> DataFrame:
    """Evaluate a list of query strings in ONE job.

    Returns DataFrame[(query_id int, doc_id long, score double)] — per query
    the BM25 top-k under the same determinism contract as single-query
    search (score rounded 4 dp; order score desc, doc_id asc).

    ``k`` is one int for every query, or a per-query list (the _msearch
    shape): the batch fetches max(k) per (shard, slice) group and the ONE
    global rank window trims each query to its own limit — per-query
    limits ride the window the batch path already pays.
    """
    ks = [int(x) for x in k] if isinstance(k, (list, tuple)) else [int(k)] * len(queries)
    if len(ks) != len(queries):
        raise ValueError("per-query k list must match the query count")
    if not ks or min(ks) < 1:
        raise ValueError("k must be >= 1")
    plans, facts = plan_log(index, queries, facts)
    groups = run_log(index, plans, max(ks), facts)
    res = groups.select("query_id", "doc_id", F.round(F.col("score"), 4).alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    k_expr = (
        F.lit(ks[0]) if len(set(ks)) == 1
        else F.element_at(F.array(*[F.lit(x) for x in ks]), F.col("query_id") + 1)
    )
    return (
        res.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k_expr).drop("_rn")
    )


def match_many(index, queries: list[str], facts: list[str] | None = None) -> DataFrame:
    """Full (unscored) match sets for a whole query log in ONE job:
    DataFrame[(query_id int, doc_id long)]. Each document lives in exactly
    one (shard, slice) group, so group outputs are disjoint — no window,
    no dedup, no truncation, and no scoring."""
    plans, facts = plan_log(index, queries, facts)
    return run_log(index, plans, None, facts)


def percolate(spark, docs: DataFrame, queries: list[str], config=None) -> DataFrame:
    """Reverse search (the Elasticsearch percolator shape): which of the
    ``queries`` (the registered query log) match each document of an
    incoming batch. Returns DataFrame[(query_id int, doc_id long)].

    Scale shape: the batch is a micro-batch (small); the query log can be
    large. A throwaway index is built over the batch (the fused
    single-shuffle build — cheap at micro-batch size) and the WHOLE log
    evaluates in ONE batched kernel job (queries become data). Alerting /
    saved-search fan-out at ingest time runs this per streaming batch.
    """
    from bitfunnel_spark import BuildConfig, FullTextIndex

    idx = FullTextIndex.build_fused(spark, docs, config or BuildConfig(n_slices=1))
    return match_many(idx, queries)
