"""Positional postings: encode/decode round trip and phrase parity.

The positions index must give phrase results identical to the corpus-scan
path (the correctness anchor) and the DataFrame executor, for single,
batched, and match queries.
"""

import numpy as np
import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from bitfunnel_spark.functions.tokenizer import tokenize
from bitfunnel_spark.operators.segments import decode_group_positions
from tests.conftest import reference_search

PHRASES = ['"batch batch"', '"fast key order"', 'data "key value"']


@pytest.fixture(scope="module")
def pos_index(spark, corpus):
    return FullTextIndex.build_fused(spark, corpus, BuildConfig(n_slices=4, positions=True))


def test_positions_round_trip(spark, corpus, pos_index):
    """Decoded positions must equal the token offsets recomputed from the
    corpus for a handful of terms."""
    from pyspark.sql import functions as F

    from bitfunnel_spark.operators.segments import _term_key_py

    keymap = {_term_key_py("body", t): t for t in ("data", "batch")}
    seg = pos_index.segments.filter(F.col("term_key").isin(list(keymap)))
    pdf = seg.toPandas()
    got: dict = {}
    for tk_, rows in pdf.groupby("term_key"):
        term = keymap[int(tk_)]
        for (_, _), sub in rows.groupby(["shard", "slice"]):
            d, t, p = decode_group_positions(sub)
            bounds = np.concatenate(([0], np.cumsum(t)))
            for i, doc in enumerate(d):
                got[(term, int(doc))] = list(p[bounds[i] : bounds[i + 1]])
    toks = corpus.select("doc_id", tokenize("content").alias("t")).collect()
    for r in toks:
        for term in ("data", "batch"):
            want = [i for i, x in enumerate(r["t"]) if x == term]
            if want:
                assert got.get((term, r["doc_id"])) == want, (term, r["doc_id"])


@pytest.mark.parametrize("q", PHRASES)
def test_phrase_search_parity(index, pos_index, q):
    base = [(r["doc_id"], r["score"]) for r in index.search(q, k=10, mode="kernel").collect()]
    pos = [(r["doc_id"], r["score"]) for r in pos_index.search(q, k=10, mode="kernel").collect()]
    df = [(r["doc_id"], r["score"]) for r in reference_search(pos_index, q, k=10).collect()]
    assert pos == base
    assert df == base


@pytest.mark.parametrize("q", ['"batch batch"', '-"batch batch" batch'])
def test_phrase_match_parity(index, pos_index, q):
    base = sorted(r["doc_id"] for r in index.match(q).collect())
    pos = sorted(r["doc_id"] for r in pos_index.match(q).collect())
    assert pos == base


def test_phrase_batch_parity(index, pos_index):
    base = {
        (r["query_id"], r["doc_id"], r["score"])
        for r in index.search_many(PHRASES, k=10).collect()
    }
    pos = {
        (r["query_id"], r["doc_id"], r["score"])
        for r in pos_index.search_many(PHRASES, k=10).collect()
    }
    assert pos == base


def test_no_positions_raises(index):
    """A segment store built without positions must fail loudly, not return
    wrong phrase results."""
    if index.segments is None:
        index.build_segments()
    from bitfunnel_spark.operators.segments import _term_key_py

    rows = index.segments.filter(
        f"term_key = {_term_key_py('body', 'data')}"
    ).limit(3).toPandas()
    if len(rows) and int(rows["n"].sum()) > 0:
        with pytest.raises(ValueError):
            decode_group_positions(rows)

def _one_term_rows(docs, positions_per_doc):
    """Build segment-schema rows for one term from (docs, per-doc position
    lists) via the real encoder — a unit-test harness for the phrase kernel."""
    import pandas as pd

    from bitfunnel_spark.operators.segments import _encode_posting_arrays

    tfs = np.array([len(p) for p in positions_per_doc], dtype=np.int64)
    occ = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions_per_doc])
    starts = np.concatenate(([0], np.cumsum(tfs)))[:-1]
    enc = _encode_posting_arrays(
        np.asarray(docs, dtype=np.int64), tfs,
        np.full(len(docs), 10.0), np.zeros(len(docs), dtype=np.int64),
        block_size=128, k1=1.2, b=0.75, avgdl=10.0,
        occ_pos=occ, posting_occ_starts=starts,
    )
    return pd.DataFrame(
        {
            "block_id": enc["block_id"],
            "n": enc["n"],
            "first_doc": enc["first_doc"],
            "last_doc": enc["last_doc"],
            "enc": enc["enc"],
            "docs_vb": enc["docs_vb"],
            "tfs_vb": enc["tfs_vb"],
            "partials": enc["partials"],
            "pos_vb": enc["pos_vb"],
        }
    )


def test_phrase_position_overflow_no_cross_doc():
    """Positions near the 2^20 packing bound must never borrow into the
    doc-id field: a token at the last representable position of doc 5 must
    not alias into doc 6 (the pre-fix off-by-one did exactly that)."""
    from bitfunnel_spark.config import POS_BITS
    from bitfunnel_spark.plans.ast import Phrase
    from bitfunnel_spark.plans.kernel import phrase_docs_from_positions

    lim = 1 << POS_BITS
    # doc 5 has "a" at huge position P and "b" at P+1 (adjacent phrase);
    # doc 6 has "a" at 0 and "b" at 100 (no phrase)
    big = lim - 16  # the old POS_LIMIT boundary value: p + 16 == 2^20
    raw = {
        ("body", "a"): _one_term_rows([5, 6], [[big], [0]]),
        ("body", "b"): _one_term_rows([5, 6], [[big + 1], [100]]),
    }
    got = phrase_docs_from_positions(Phrase(("a", "b"), "body"), raw)
    # the boundary occurrence is dropped (doc 5 missing is acceptable: the
    # index-level fallback handles long docs) — but doc 6 must NOT appear
    assert 6 not in got.tolist()

    # well inside the window the same shape must match
    raw2 = {
        ("body", "a"): _one_term_rows([5, 6], [[1000], [0]]),
        ("body", "b"): _one_term_rows([5, 6], [[1001], [100]]),
    }
    got2 = phrase_docs_from_positions(Phrase(("a", "b"), "body"), raw2)
    assert got2.tolist() == [5]


def test_long_phrase_17_tokens():
    """Phrases longer than 16 tokens must not go negative in the packed key
    (the +16 offset only covered k <= 15 pre-fix)."""
    from bitfunnel_spark.plans.ast import Phrase
    from bitfunnel_spark.plans.kernel import phrase_docs_from_positions

    toks = tuple(f"t{i}" for i in range(18))
    # doc 1: all 18 tokens adjacent starting at position 0 (k=17 → p-k = -17)
    # doc 2: token t17 only at position 0 (no phrase)
    raw = {}
    for k, t in enumerate(toks):
        docs, pos = [1], [[k]]
        if t == "t17":
            docs, pos = [1, 2], [[k], [0]]
        raw[("body", t)] = _one_term_rows(docs, pos)
    got = phrase_docs_from_positions(Phrase(toks, "body"), raw)
    assert got.tolist() == [1]


def test_long_doc_falls_back_to_corpus(pos_index):
    """An index whose longest document exceeds the safe position window must
    route phrases to the corpus-scan path (use_positional_phrases False) and
    still return exact results."""
    from bitfunnel_spark.config import POS_SAFE_DOCLEN
    from bitfunnel_spark.plans.kernel import use_positional_phrases

    assert use_positional_phrases(pos_index)
    saved = pos_index.max_doclen
    try:
        pos_index.max_doclen = POS_SAFE_DOCLEN + 1
        assert not use_positional_phrases(pos_index)
        got = [
            (r["doc_id"], r["score"])
            for r in pos_index.search('"batch batch"', k=10, mode="kernel").collect()
        ]
        base = [
            (r["doc_id"], r["score"])
            for r in reference_search(pos_index, '"batch batch"', k=10).collect()
        ]
        assert got == base and len(got) > 0
    finally:
        pos_index.max_doclen = saved
