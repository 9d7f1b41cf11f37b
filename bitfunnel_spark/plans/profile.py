"""Per-query execution instrumentation — QueryRunner/QueryInstrumentation
parity (/root/reference/src/Plan/src/QueryRunner.cpp:84-92 records
parse/plan/match wall-times; inc/BitFunnel/Plan/QueryInstrumentation.h:63-70
records row/cacheline counts; our analogue counts posting blocks).

`profile_many` runs a query log through the production query kernel
(plans/kernel.run_log) with the counters sink on — the same descriptor,
restrictions (tombstones, fact sets), phrase routing and search_after
handling as search, so a profile describes the execution that actually
runs. Instead of result rows the kernel emits one METRIC_SCHEMA row per
(query, shard, slice) group, with driver-side phase timings alongside:

    blocks_total    — blocks of the query's terms present in the group
    blocks_decoded  — blocks actually decoded (block-max pruning skips the
                      rest; the pruning-effectiveness signal)
    rows            — result rows the group emitted
    kernel_ms       — the query's kernel wall time in the group

Each query gets its own block decode cache under the sink, so counters
attribute exactly. Metrics come back through the same Arrow channel as
results would, so profiling adds no extra Spark job.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from bitfunnel_spark.plans.batch import plan_log
from bitfunnel_spark.plans.kernel import METRIC_SCHEMA, run_log  # noqa: F401 (re-export)


def profile_many(
    index, queries: list[str], k: int = 10,
    after: tuple[float, int] | None = None,
    similarity: str = "bm25", facts: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """Per-query execution metrics for a query log, ONE job.

    Returns (group_metrics_df, driver_timings). group_metrics_df has one row
    per (query, shard, slice); aggregate with
    ``df.groupBy("query_id").agg(sum("blocks_decoded"), ...)``.
    driver_timings records parse/plan/descriptor wall-times (the reference's
    parse/plan phases, QueryRunner.cpp:84-92). ``after`` applies one
    search_after cursor to every query — the per-page decode-counter
    instrumentation for deep pagination; ``facts`` restricts every query
    to the named fact sets (batch.search_many). ``similarity`` profiles the
    prunable flavors ("bm25" / "dot_tf" — queries may be AST nodes, e.g. a
    compiled sparse_vector body, whose boosts carry the weights)."""
    if similarity not in ("bm25", "dot_tf"):
        raise ValueError(
            f"profile_many instruments the prunable similarities "
            f"('bm25', 'dot_tf'), got {similarity!r}"
        )
    t0 = time.perf_counter()
    plans, facts = plan_log(index, queries, facts)
    t_parse = time.perf_counter()
    metrics = run_log(index, plans, k, facts, similarity, after, sink=True)
    t_plan = time.perf_counter()
    timings = {
        "parse_ms": round((t_parse - t0) * 1000.0, 3),
        "plan_ms": round((t_plan - t_parse) * 1000.0, 3),
        "n_queries": len(queries),
    }
    return metrics, timings


def profile_search(index, query: str, k: int = 10) -> tuple[DataFrame, dict]:
    """Single-query convenience wrapper over :func:`profile_many`."""
    return profile_many(index, [query], k)


def summarize(metrics: DataFrame) -> DataFrame:
    """Per-query rollup of group metrics: total/decoded blocks, skip ratio."""
    from pyspark.sql import functions as F

    return (
        metrics.groupBy("query_id")
        .agg(
            F.sum("blocks_total").alias("blocks_total"),
            F.sum("blocks_decoded").alias("blocks_decoded"),
            F.sum("rows").alias("rows"),
            F.round(F.sum("kernel_ms"), 3).alias("kernel_ms_sum"),
        )
        .withColumn(
            "skip_ratio",
            F.round(
                1.0 - F.col("blocks_decoded") / F.greatest(F.col("blocks_total"), F.lit(1)),
                4,
            ),
        )
        .orderBy("query_id")
    )
