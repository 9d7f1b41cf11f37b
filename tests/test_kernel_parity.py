"""Engine-vs-engine equivalence — the reference's ByteCode/NativeCode twin
strategy (/root/reference/src/Plan/test/ByteCodeVerifier.cpp,
NativeCodeVerifier.cpp): every query must produce identical results through
the declarative reference executor (plans/executor.py) and the kernel."""

import pytest

from tests.conftest import reference_match, reference_search

QUERIES = [
    "data",
    "spark & join",
    "data -slow",
    "dup | vector",
    "(dup | vector) join -merge",
    "lang:en data",
    "path:txt data fast",
    '"batch batch"',
    'data -"slow sort"',
    "nonexistenttoken | data",
]


@pytest.fixture(scope="module")
def seg_index(index):
    if index.segments is None:
        index.build_segments()
    return index


@pytest.mark.parametrize("q", QUERIES)
def test_search_parity(seg_index, q):
    df_res = [(r["doc_id"], r["score"]) for r in reference_search(seg_index, q, k=10).collect()]
    k_res = [(r["doc_id"], r["score"]) for r in seg_index.search(q, k=10, mode="kernel").collect()]
    assert df_res == k_res, f"kernel/dataframe divergence for {q!r}"


@pytest.mark.parametrize("q", ["spark & join", "data -slow", "(dup | vector) join"])
def test_match_parity(seg_index, q):
    from bitfunnel_spark.plans.kernel import match_kernel

    df_res = sorted(r["doc_id"] for r in reference_match(seg_index, q).collect())
    k_res = sorted(r["doc_id"] for r in match_kernel(seg_index, q).collect())
    assert df_res == k_res
    assert sorted(r["doc_id"] for r in seg_index.match(q).collect()) == k_res


def test_segments_roundtrip_postings(seg_index):
    """Decoding every segment must reproduce the exact posting multiset."""
    from bitfunnel_spark.operators.codec import decode_doc_block, varbyte_decode

    from bitfunnel_spark.operators.segments import _term_key_py

    seg_rows = seg_index.segments.collect()
    decoded = set()
    for r in sorted(seg_rows, key=lambda r: (r["term_key"], r["shard"], r["slice"], r["block_id"])):
        docs = decode_doc_block(bytes(r["docs_vb"]), r["enc"], int(r["first_doc"]))
        tfs = varbyte_decode(bytes(r["tfs_vb"]))
        assert len(docs) == len(tfs) == r["n"]
        assert int(docs[0]) == r["first_doc"] and int(docs[-1]) == r["last_doc"]
        for d, t in zip(docs, tfs):
            decoded.add((r["term_key"], int(d), int(t)))
    original = {
        (_term_key_py(r["stream"], r["term"]), r["doc_id"], r["tf"])
        for r in seg_index.postings.collect()
    }
    assert decoded == original


@pytest.mark.parametrize("q", ["data", "spark & join", '"batch batch"', "dup | vector"])
def test_scored_match_parity(seg_index, q):
    """The kernel's full scored match set (run_log with k=math.inf) equals
    the reference's, score for score."""
    from bitfunnel_spark.plans.executor import scored_matches

    ref = sorted(tuple(r) for r in scored_matches(seg_index, q).collect())
    got = sorted(tuple(r) for r in seg_index.scored_match(q).collect())
    assert got == ref and got
