"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (kernel-path BM25 top-10) on sf0.001.
queries()     — one entry per implemented operator (SURVEY.md §2 + the
                training-data ops); callables take (spark, sf_dir).
oracle_sql()  — matching DuckDB SQL per query. As of round 5 EVERY entry
                has one: seeded trainers (k-means IVF, PQ codebooks,
                random hyperplanes) are regenerated driver-side and
                embedded as full-precision SQL literals so DuckDB mirrors
                the whole distributed pipeline, and the deterministic
                kernel decode counters carry a pinned expected-value
                oracle at the driver's compare dir (sf0.01).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REGISTRY = None


def _registry():
    global _REGISTRY
    if _REGISTRY is None:
        from bitfunnel_spark.entry_queries import build_registry

        _REGISTRY = build_registry()
    return _REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the full-text index over sf0.001 and serve a BM25
    top-10 conjunctive query through the kernel path (compressed segments +
    NumPy block-max kernel)."""
    from bitfunnel_spark.entry_queries import get_index

    idx = get_index(spark, "/root/testdata/sf0.001")
    return idx.search("data fast -slow", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
