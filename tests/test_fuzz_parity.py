"""Generator-driven end-to-end fuzz: random queries sampled from the
index's own vocabulary must produce identical results on the kernel and
DataFrame executors (the reference's verify-log audit, run over a
synthesized workload instead of a fixed list)."""

from __future__ import annotations

import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from bitfunnel_spark.plans.generator import generate_query_log, generate_queries
from tests.conftest import reference_search


@pytest.fixture(scope="module")
def fuzz_index(spark, corpus):
    return FullTextIndex.build_fused(
        spark, corpus.filter("doc_id < 150"), BuildConfig(n_slices=2, positions=True)
    )


def _rows(df):
    return [(r["doc_id"], round(r["score"], 4)) for r in df.collect()]


def test_generated_and_queries_mode_parity(fuzz_index):
    for q in generate_query_log(fuzz_index.term_stats, 15, seed=11):
        a = _rows(fuzz_index.search(q, k=10, mode="kernel"))
        b = _rows(reference_search(fuzz_index, q, k=10))
        assert a == b, q


def test_generated_or_and_not_parity(fuzz_index):
    """Synthesize OR / NOT shapes from sampled terms too."""
    pairs = generate_queries(fuzz_index.term_stats, 6, 2, seed=23)
    shaped = [t.replace(" ", " | ", 1) for t in pairs[:3]] + [
        t.replace(" ", " -", 1) for t in pairs[3:]
    ]
    for q in shaped:
        a = _rows(fuzz_index.search(q, k=10, mode="kernel"))
        b = _rows(reference_search(fuzz_index, q, k=10))
        assert a == b, q
