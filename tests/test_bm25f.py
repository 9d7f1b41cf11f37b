"""BM25F combined-fields scoring (ast.FieldGroup via expand.combined_fields):
matches like an OR of the token across fields, scores as ONE pseudo-term —
weighted per-field tf sum in fixed member order, single saturation with the
shared body-length norm, blended idf (min member idf). Parity across the
kernel executor, the DataFrame executor, and the DuckDB oracle; the
single-field weight-1 group must degenerate exactly to plain BM25.

Reference analogue: none (the reference's ResultsBuffer is an unscored
match set — src/Plan/src/QueryRunner.cpp); the semantics mirror Lucene's
CombinedFieldQuery / ES ``combined_fields`` (Zaragoza et al. 2004 BM25F
with shared length normalization).
"""

import duckdb
import pytest

from bitfunnel_spark.plans.ast import FieldGroup, Term
from bitfunnel_spark.plans.expand import combined_fields
from bitfunnel_spark.plans.oracle import oracle_search_sql
from bitfunnel_spark.plans.planner import plan_query
from tests.conftest import reference_search, search_in


def test_rewrite_and_plan():
    node = combined_fields("data & fast", {"body": 1.0, "path": 0.4})
    plan = plan_query(node)
    assert len(plan.field_groups) == 2
    g = dict(plan.field_groups[0]) | dict(plan.field_groups[1])
    assert g[("body", "data")] == 1.0
    assert g[("path", "data")] == 0.4
    # group members never score individually...
    assert plan.scoring_keys == set()
    # ...but they all match and fetch postings
    assert {("body", "data"), ("path", "data"), ("body", "fast"), ("path", "fast")} <= plan.terms


def test_rewrite_validation_and_scoping():
    with pytest.raises(ValueError):
        combined_fields("data", {})
    with pytest.raises(ValueError):
        combined_fields("data", {"body": 0.0, "path": 1.0})
    # explicit-field terms are left untouched by the rewrite
    plan = plan_query(combined_fields("lang:en data", {"body": 1.0, "path": 2.0}))
    assert ("lang", "en") in plan.terms
    assert len(plan.field_groups) == 1
    # weights align to sorted member order regardless of dict order
    node = combined_fields("data", {"path": 0.5, "body": 2.0})
    (group,) = plan_query(node).field_groups
    assert group == ((("body", "data"), 2.0), (("path", "data"), 0.5))


QUERIES = [
    # "txt" lives in every path and (almost) no body: the 0.4 weight and
    # the blended idf both shape the scores
    ("data & txt", {"body": 1.0, "path": 0.4}),
    # multi-term bag over two fields
    ("data fast", {"body": 1.0, "lang": 2.0}),
    # group under boolean structure with a NOT
    ("(dup | vector) -slow", {"body": 1.0, "path": 0.7}),
]


@pytest.mark.parametrize("q,w", QUERIES)
@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_bm25f_vs_oracle(index, duck, q, w, mode):
    node = combined_fields(q, w)
    got = [(r["doc_id"], r["score"]) for r in search_in(mode, index, node, k=10).collect()]
    exp = duck.execute(oracle_search_sql(node, k=10)).fetchall()
    assert len(got) > 0
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got, f"{q!r} {mode}"


def test_match_set_is_or_of_fields(index):
    node = combined_fields("txt", {"body": 1.0, "path": 1.0})
    grouped = sorted(r["doc_id"] for r in index.match(node).collect())
    plain_or = sorted(r["doc_id"] for r in index.match("txt | path:txt").collect())
    assert grouped == plain_or


def test_single_field_weight1_degenerates_to_bm25(index):
    """tf̃ = 1·tf and the saturation exactly inverts the stored partial, so
    a {body: 1.0} group reproduces plain BM25 on the 4-dp surface the
    ordering contract uses."""
    plain = [
        (r["doc_id"], round(r["score"], 4))
        for r in index.search("data fast", k=10, mode="kernel").collect()
    ]
    node = combined_fields("data fast", {"body": 1.0})
    grouped = [
        (r["doc_id"], round(r["score"], 4))
        for r in index.search(node, k=10, mode="kernel").collect()
    ]
    assert plain == grouped


def test_cross_field_tf_sum(spark):
    """Crafted corpus where the token lives in body AND path of the same
    document: the weighted cross-field sum must (a) hash-match the oracle
    and (b) rank the double-hit document first."""
    from bitfunnel_spark import BuildConfig, FullTextIndex
    from bitfunnel_spark.sources.corpus import corpus_from_documents

    rows = [
        # doc 0: "txt" twice in body + once in path (path = doc0.txt)
        (0, "txt alpha txt beta gamma", "en", "src1", 23),
        # doc 1: "txt" in path only
        (1, "alpha beta gamma delta alpha", "en", "src1", 28),
        # doc 2: no alpha at all, padding vocabulary
        (2, "epsilon zeta eta theta iota", "en", "src2", 27),
        (3, "alpha epsilon txt zeta beta", "en", "src2", 27),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    idx = FullTextIndex.build(spark, corpus_from_documents(docs), BuildConfig(n_slices=2))
    node = combined_fields("txt", {"body": 1.0, "path": 0.5})
    got = [(r["doc_id"], r["score"]) for r in idx.search(node, k=4, mode="kernel").collect()]
    # every doc matches (path always contains "txt"); doc 0 has the largest
    # weighted tf̃ (2·1.0 + 1·0.5) and must rank first
    assert [d for d, _ in got][0] == 0
    assert len(got) == 4
    con = duckdb.connect()
    import pandas as pd

    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]),
    )
    exp = con.execute(oracle_search_sql(node, k=4)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got
    # DataFrame-executor parity on the same crafted index
    df = [(r["doc_id"], r["score"]) for r in reference_search(idx, node, k=4).collect()]
    assert df == got
