"""Block-max single-term top-k: pruned decode must be rank-identical to the
unpruned DataFrame executor, including under tiny blocks (many skip
opportunities) and rounding-boundary ties."""

import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from tests.conftest import reference_match, reference_search


@pytest.fixture(scope="module")
def tiny_block_index(spark, corpus):
    # block_size=8 → common terms span many blocks → pruning actually skips
    return FullTextIndex.build_fused(spark, corpus, BuildConfig(n_slices=4, block_size=8))


@pytest.mark.parametrize("q", ["data", "the", "dup", "zzznotaterm"])
@pytest.mark.parametrize("k", [3, 10, 50])
def test_single_term_topk_parity(tiny_block_index, q, k):
    a = [(r["doc_id"], r["score"]) for r in tiny_block_index.search(q, k=k, mode="kernel").collect()]
    b = [(r["doc_id"], r["score"]) for r in reference_search(tiny_block_index, q, k=k).collect()]
    assert a == b


def test_single_term_match_unpruned(tiny_block_index):
    # match has no k — the pruned path must not engage; the kernel's full
    # match set must equal the reference executor's (the unpruned oracle)
    from bitfunnel_spark.plans.kernel import match_kernel

    a = sorted(r["doc_id"] for r in match_kernel(tiny_block_index, "data").collect())
    b = sorted(r["doc_id"] for r in reference_match(tiny_block_index, "data").collect())
    assert a == b and len(a) > 0

# ---------------------------------------------------------------------------
# multi-term block-max pruning (plans/wand.py)

MULTI_QUERIES = [
    "data fast",          # flat AND
    "data & the",         # AND with an ultra-common conjunct
    "dup | vector",       # flat OR
    "the | data | dup",   # OR with common terms
    "lang:en data",       # AND with a non-scoring mask conjunct
    "path:txt data fast",
]


@pytest.mark.parametrize("q", MULTI_QUERIES)
@pytest.mark.parametrize("k", [3, 10])
def test_multi_term_topk_parity(tiny_block_index, q, k):
    a = [(r["doc_id"], r["score"]) for r in tiny_block_index.search(q, k=k, mode="kernel").collect()]
    b = [(r["doc_id"], r["score"]) for r in reference_search(tiny_block_index, q, k=k).collect()]
    assert a == b


@pytest.mark.parametrize("k", [3, 10])
def test_search_many_matches_single_under_pruning(tiny_block_index, k):
    """A batch is the same kernel as a single query: with blocks small
    enough for pruning to engage, every query of the log (single terms
    included) ranks exactly as its own kernel-path search."""
    queries = ["data", "the", "dup", *MULTI_QUERIES, "data -slow", '"batch batch"']
    by_q: dict = {}
    for r in tiny_block_index.search_many(queries, k=k).collect():
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in enumerate(queries):
        single = [(r["doc_id"], r["score"]) for r in
                  tiny_block_index.search(q, k=k, mode="kernel").collect()]
        assert sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0])) == single, q


def test_restrict_empty_allow_keeps_nothing():
    """wand.restrict: allow=None is unrestricted; an empty allow array (a
    restriction no doc passes) keeps nothing; deny masks either way."""
    import numpy as np

    from bitfunnel_spark.plans.wand import restrict

    cand = np.array([2, 5, 9], dtype=np.int64)
    empty = np.empty(0, dtype=np.int64)
    assert restrict(cand, None, None).tolist() == [2, 5, 9]
    assert restrict(cand, empty, None).tolist() == []
    assert restrict(cand, np.array([5, 9, 11]), np.array([9])).tolist() == [5]
    assert restrict(empty, np.array([5]), None).tolist() == []


def _biggest_group_raw(index, stream_terms):
    """raw dict ({(stream, term): rows}) for the (shard, slice) group holding
    the most blocks of the given terms — a unit harness for the wand kernels."""
    from pyspark.sql import functions as F

    from bitfunnel_spark.operators.segments import _term_key_py

    keymap = {_term_key_py(s, t): (s, t) for s, t in stream_terms}
    pdf = index.segments.filter(F.col("term_key").isin(list(keymap))).toPandas()
    sizes = pdf.groupby(["shard", "slice"]).size()
    shard, slc = sizes.idxmax()
    sub = pdf[(pdf["shard"] == shard) & (pdf["slice"] == slc)]
    return {
        keymap[int(tk_)]: rows for tk_, rows in sub.groupby("term_key", sort=False)
    }


def _seg_rows(docs, tfs, dls, block_size=4, avgdl=10.0):
    """Segment-schema rows for ONE term from explicit (docs, tfs, doclens)
    via the real encoder — a deterministic harness for the wand kernels."""
    import numpy as np
    import pandas as pd

    from bitfunnel_spark.operators.segments import _encode_posting_arrays

    enc = _encode_posting_arrays(
        np.asarray(docs, dtype=np.int64),
        np.asarray(tfs, dtype=np.int64),
        np.asarray(dls, dtype=np.float64),
        np.zeros(len(docs), dtype=np.int64),
        block_size=block_size, k1=1.2, b=0.75, avgdl=avgdl,
    )
    return pd.DataFrame(
        {
            "block_id": enc["block_id"],
            "n": enc["n"],
            "first_doc": enc["first_doc"],
            "last_doc": enc["last_doc"],
            "max_partial": enc["max_partial"],
            "min_partial": enc["min_partial"],
            "max_tf": enc["max_tf"],
            "docs_vb": enc["docs_vb"],
            "tfs_vb": enc["tfs_vb"],
            "partials": enc["partials"],
        }
    )


def _exhaustive(raw, keys, skeys, idf, k, kind):
    """Reference evaluation decoding EVERY block: intersect/union, score,
    top-k by (rounded score desc, doc asc)."""
    import numpy as np

    from bitfunnel_spark.operators.segments import decode_group
    from bitfunnel_spark.plans.wand import _member

    full = {key: decode_group(rows) for key, rows in raw.items()}
    if kind == "and":
        cand = None
        for key in keys:
            d = full.get(key, (np.empty(0, np.int64), None, None))[0]
            cand = d if cand is None else cand[_member(d, cand)]
    else:
        cand = np.unique(np.concatenate([full[key][0] for key in keys if key in full]))
    score = np.zeros(cand.shape)
    for s, t in skeys:
        d, _tf, p = full.get((s, t), (np.empty(0, np.int64), None, np.empty(0)))
        m = _member(d, cand)
        score[m] += idf.get((s, t), 0.0) * p[np.searchsorted(d, cand[m])]
    r4 = np.round(score, 4)
    idx = np.lexsort((cand, -r4))[:k]
    return list(zip(cand[idx].tolist(), r4[idx].tolist()))


def test_and_topk_prunes_blocks():
    """Flat-AND block-max: with a rare driver whose second block is provably
    below the k-th score bound, the traversal must stop early — strictly
    fewer blocks decoded than exist — while matching the exhaustive result."""
    from bitfunnel_spark.plans.wand import BlockCache, and_topk

    # driver "a": block 0 = docs 0..3, tf 5, short docs (high partial);
    #             block 1 = docs 100..103, tf 1, long docs (low partial)
    a = _seg_rows([0, 1, 2, 3, 100, 101, 102, 103],
                  [5] * 4 + [1] * 4, [5.0] * 4 + [100.0] * 4)
    # common "b": docs 0..127, tf 1 → 32 blocks of 4
    b = _seg_rows(list(range(128)), [1] * 128, [10.0] * 128)
    raw = {("body", "a"): a, ("body", "b"): b}
    idf = {("body", "a"): 3.0, ("body", "b"): 0.05}
    skeys = [("body", "a"), ("body", "b")]
    keys = [("body", "a"), ("body", "b")]
    stats = {}
    got = and_topk(keys, skeys, idf, 3, BlockCache(raw, stats))
    want = _exhaustive(raw, keys, skeys, idf, 3, "and")
    got_pairs = [(int(r.doc_id), float(round(r.score, 4))) for r in got.itertuples()]
    assert got_pairs == want
    total = len(a) + len(b)
    assert 0 < stats["blocks_decoded"] < total, stats
    # driver block 1 and all b-blocks outside docs 0..3 must be skipped
    assert stats["blocks_decoded"] <= 3, stats


def test_or_topk_prunes_terms():
    """MaxScore: once the k-th score beats the remaining terms' max
    contribution, the common term must not be decoded as a candidate
    generator (only its candidate-bearing blocks for exact scoring)."""
    from bitfunnel_spark.plans.wand import BlockCache, or_topk

    a = _seg_rows([0, 1, 2, 3], [5] * 4, [5.0] * 4)              # rare, strong
    b = _seg_rows(list(range(128)), [1] * 128, [10.0] * 128)     # common, weak
    raw = {("body", "a"): a, ("body", "b"): b}
    idf = {("body", "a"): 3.0, ("body", "b"): 0.001}
    keys = [("body", "a"), ("body", "b")]
    stats = {}
    got = or_topk(keys, keys, idf, 3, BlockCache(raw, stats))
    want = _exhaustive(raw, keys, keys, idf, 3, "or")
    got_pairs = [(int(r.doc_id), float(round(r.score, 4))) for r in got.itertuples()]
    assert got_pairs == want
    total = len(a) + len(b)
    assert 0 < stats["blocks_decoded"] < total, stats
    assert stats["blocks_decoded"] <= 2, stats  # a's block + b's block 0


# ---------------------------------------------------------------------------
# blended pseudo-terms under block-max (SynGroup / FieldGroup units)

def _exhaustive_blended(raw, all_keys, skeys, idf, k, syn_groups=(), field_groups=(), k1=1.2):
    """Decode EVERY block, union candidates, score via kernel._score (the
    blended reference scorer), top-k by (rounded desc, doc asc)."""
    import numpy as np

    from bitfunnel_spark.operators.segments import decode_group
    from bitfunnel_spark.plans.kernel import _score

    full = {key: decode_group(rows) for key, rows in raw.items()}
    cand = np.unique(np.concatenate([full[key][0] for key in all_keys if key in full]))
    score = _score(cand, full, sorted(skeys), idf, syn_groups, k1, field_groups)
    r4 = np.round(score, 4)
    idx = np.lexsort((cand, -r4))[:k]
    return list(zip(cand[idx].tolist(), r4[idx].tolist()))


def test_syn_group_or_prunes():
    """A bare blended synonym group rides MaxScore: the weak member's
    non-candidate blocks are never decoded once the k-th exact score beats
    its subadditive bound — and the result is rank-identical to exhaustive
    blended scoring."""
    from bitfunnel_spark.plans.wand import BlockCache, units_topk

    a = _seg_rows([0, 1, 2, 3], [5] * 4, [5.0] * 4)              # rare, strong
    b = _seg_rows(list(range(128)), [1] * 128, [10.0] * 128)     # common, weak
    raw = {("body", "a"): a, ("body", "b"): b}
    # blended idf = min = 0.001 → b's docs all score ~equal and tiny; a's
    # docs add tf → pruning hinges on the blend bound, not member idf
    idf = {("body", "a"): 3.0, ("body", "b"): 0.001}
    group = (("body", "a"), ("body", "b"))
    units = [("group", tuple((kk, 1.0) for kk in group))]
    stats = {}
    got = units_topk(
        "or", units, [], idf, 3, BlockCache(raw, stats), syn_groups=(group,)
    )
    want = _exhaustive_blended(
        raw, list(group), [], idf, 3, syn_groups=(group,)
    )
    got_pairs = [(int(r.doc_id), float(round(r.score, 4))) for r in got.itertuples()]
    assert got_pairs == want
    total = len(a) + len(b)
    assert 0 < stats["blocks_decoded"] < total, stats


def test_and_with_syn_group_prunes():
    """AND of a rare term and a blended group: the term drives, the group
    bounds via Σ members' overlap maxima, dead driver blocks (no member
    overlap) are never decoded; rank-identical to exhaustive."""
    import numpy as np

    from bitfunnel_spark.operators.segments import decode_group
    from bitfunnel_spark.plans.kernel import _score
    from bitfunnel_spark.plans.wand import BlockCache, _member, units_topk

    t = _seg_rows([0, 1, 2, 3, 100, 101, 102, 103],
                  [5] * 4 + [1] * 4, [5.0] * 4 + [100.0] * 4)
    a = _seg_rows([0, 1, 2, 3], [2] * 4, [5.0] * 4)
    b = _seg_rows([2, 3, 100], [1] * 3, [10.0] * 3)
    raw = {("body", "t"): t, ("body", "a"): a, ("body", "b"): b}
    idf = {("body", "t"): 3.0, ("body", "a"): 1.0, ("body", "b"): 0.5}
    group = (("body", "a"), ("body", "b"))
    units = [("key", ("body", "t")), ("group", tuple((kk, 1.0) for kk in group))]
    skeys = [("body", "t")]
    stats = {}
    got = units_topk(
        "and", units, skeys, idf, 3, BlockCache(raw, stats), syn_groups=(group,)
    )
    # exhaustive: docs in t AND (a OR b), blended scoring
    full = {key: decode_group(rows) for key, rows in raw.items()}
    td = full[("body", "t")][0]
    gd = np.unique(np.concatenate([full[("body", "a")][0], full[("body", "b")][0]]))
    cand = td[_member(gd, td)]
    score = _score(cand, full, sorted(skeys), idf, (group,), 1.2, ())
    r4 = np.round(score, 4)
    idx = np.lexsort((cand, -r4))[:3]
    want = list(zip(cand[idx].tolist(), r4[idx].tolist()))
    got_pairs = [(int(r.doc_id), float(round(r.score, 4))) for r in got.itertuples()]
    assert got_pairs == want
    assert 0 < stats["blocks_decoded"] < len(t) + len(a) + len(b), stats


def test_blended_query_decodes_fewer(tiny_block_index):
    """End-to-end done-bar: a blend-mode synonym query must decode fewer
    blocks than its full term footprint (it used to take the exhaustive
    kernel: every block of every term), and stay rank-identical to the
    DataFrame executor."""
    from bitfunnel_spark.plans.expand import apply_synonyms
    from bitfunnel_spark.plans.parser import parse_query
    from bitfunnel_spark.plans.profile import profile_many

    idx = tiny_block_index
    # blend a rare term with an ultra-common one: the common member's
    # blocks are where skipping shows
    node = apply_synonyms(parse_query("dup & data"), {"data": ("the",)}, mode="blend")
    a = [(r["doc_id"], round(r["score"], 4)) for r in
         idx.search(node, k=5, mode="kernel").collect()]
    b = [(r["doc_id"], round(r["score"], 4)) for r in
         reference_search(idx, node, k=5).collect()]
    assert a == b and len(a) == 5
    metrics, _ = profile_many(idx, [node], k=5)
    row = metrics.groupBy().sum("blocks_total", "blocks_decoded").collect()[0]
    assert row[1] < row[0], (row[0], row[1])
    # the bare-group OR shape also routes (no exhaustive fallback): its
    # result must stay rank-identical even when bounds are too thin to skip
    bare = apply_synonyms(parse_query("data"), {"data": ("the",)}, mode="blend")
    a2 = [(r["doc_id"], round(r["score"], 4)) for r in
          idx.search(bare, k=5, mode="kernel").collect()]
    b2 = [(r["doc_id"], round(r["score"], 4)) for r in
          reference_search(idx, bare, k=5).collect()]
    assert a2 == b2 and len(a2) == 5


# ---------------------------------------------------------------------------
# search_after under block-max (cursor-seeded pruning + min-bound head-skip)

def test_search_after_pages_skip_head_and_tail():
    """Deep pages prune BOTH ends: blocks wholly above the cursor
    (min_partial lower bound — only already-served docs) and blocks wholly
    below the page's k-th score. Per-page decodes stay O(1) in page depth
    instead of growing to the full posting list."""
    import numpy as np

    from bitfunnel_spark.plans.wand import BlockCache, and_topk

    # 10 four-doc tiers with strictly descending partials (tf 10..1);
    # block_size=4 aligns blocks with tiers
    docs = list(range(40))
    tfs = [10 - i // 4 for i in range(40)]
    t = _seg_rows(docs, tfs, [10.0] * 40, block_size=4, avgdl=10.0)
    key = ("body", "t")
    raw = {key: t}
    idf = {key: 1.0}
    k = 4
    cursor = None
    per_page_decodes = []
    served = []
    for _page in range(10):
        stats = {}
        res = and_topk([key], [key], idf, k, BlockCache(raw, stats), after=cursor)
        assert len(res) == k
        per_page_decodes.append(stats["blocks_decoded"])
        served.extend(int(r.doc_id) for r in res.itertuples())
        last = res.iloc[-1]
        cursor = (round(float(last["score"]), 4), int(last["doc_id"]))
    # pages exactly partition the full ranking in order
    assert served == docs
    # page 1 decodes a single block; every deeper page at most the cursor-
    # boundary block + its own block — never the whole head (tail-skip-only
    # would decode page_number blocks; exhaustive would decode all 10)
    assert per_page_decodes[0] == 1
    assert all(d <= 2 for d in per_page_decodes[1:]), per_page_decodes
    # the head-skip is real: page 6+ decodes fewer blocks than its depth
    assert per_page_decodes[5] < 6, per_page_decodes


def test_search_after_or_skips_head():
    """MaxScore pages: a term's high blocks head-skip once the cursor sits
    strictly below their min-bound; parity with the cursor-filtered
    exhaustive evaluation."""
    import numpy as np

    from bitfunnel_spark.plans.wand import BlockCache, or_topk

    a = _seg_rows(list(range(20)), [10 - i // 4 for i in range(20)],
                  [10.0] * 20, block_size=4, avgdl=10.0)
    b = _seg_rows(list(range(10, 26)), [1] * 16, [10.0] * 16,
                  block_size=4, avgdl=10.0)
    raw = {("body", "a"): a, ("body", "b"): b}
    idf = {("body", "a"): 2.0, ("body", "b"): 0.5}
    keys = [("body", "a"), ("body", "b")]
    # walk pages; compare each against exhaustive cursor filtering
    import pandas as pd

    def exhaustive_page(after, k):
        from bitfunnel_spark.operators.segments import decode_group
        from bitfunnel_spark.plans.wand import _member

        full = {kk: decode_group(rows) for kk, rows in raw.items()}
        cand = np.unique(np.concatenate([full[kk][0] for kk in keys]))
        score = np.zeros(cand.shape)
        for kk in keys:
            d, _t, p = full[kk]
            m = _member(d, cand)
            score[m] += idf[kk] * p[np.searchsorted(d, cand[m])]
        r4 = np.round(score, 4)
        if after is not None:
            keep = (r4 < after[0]) | ((r4 == after[0]) & (cand > after[1]))
            cand, r4 = cand[keep], r4[keep]
        idx = np.lexsort((cand, -r4))[:k]
        return list(zip(cand[idx].tolist(), r4[idx].tolist()))

    cursor = None
    decodes = []
    for _page in range(6):
        stats = {}
        res = or_topk(keys, keys, idf, 4, BlockCache(raw, stats), after=cursor)
        got = [(int(r.doc_id), float(round(r.score, 4))) for r in res.itertuples()]
        want = exhaustive_page(cursor, 4)
        assert got == want, (cursor, got, want)
        decodes.append(stats["blocks_decoded"])
        if not got:
            break
        cursor = (got[-1][1], got[-1][0])
    total_blocks = len(a) + len(b)
    # deep pages must not decode the whole footprint
    assert decodes[-1] < total_blocks, decodes


def _exhaustive_dot_tf(raw, keys, idf, k):
    import numpy as np

    from bitfunnel_spark.operators.segments import decode_group
    from bitfunnel_spark.plans.wand import _member

    full = {key: decode_group(rows) for key, rows in raw.items()}
    cand = np.unique(np.concatenate([full[key][0] for key in keys if key in full]))
    score = np.zeros(cand.shape)
    for key in sorted(keys):
        d, tf, _p = full.get(key, (np.empty(0, np.int64), None, None))
        m = _member(d, cand)
        score[m] += idf.get(key, 0.0) * tf[np.searchsorted(d, cand[m])].astype(float)
    r4 = np.round(score, 4)
    idx = np.lexsort((cand, -r4))[:k]
    return list(zip(cand[idx].tolist(), r4[idx].tolist()))


def test_dot_tf_or_prunes_via_max_tf():
    """Sparse dot-product (dot_tf) rides MaxScore via the per-block max_tf
    metadata: a heavy-weight term with high tfs dominates; the light term's
    blocks (cap = w·max_tf below the k-th score) must be skipped — result
    identical to the exhaustive dot product."""
    import numpy as np

    from bitfunnel_spark.plans.wand import BlockCache, or_topk

    a = ("body", "a")
    b = ("body", "b")
    raw = {
        # 4 postings with big tfs -> one block, caps the top-3 high
        a: _seg_rows([1, 2, 3, 4], [9, 8, 7, 6], [10] * 4, block_size=4),
        # 12 postings all tf=1 across 3 blocks — w·max_tf = 0.2 each
        b: _seg_rows(list(range(10, 22)), [1] * 12, [10] * 12, block_size=4),
    }
    idf = {a: 5.0, b: 0.2}
    keys = [a, b]
    stats = {}
    got = or_topk(keys, keys, idf, 3, BlockCache(raw, stats, bound="dot_tf"))
    want = _exhaustive_dot_tf(raw, keys, idf, 3)
    assert list(zip(got["doc_id"].tolist(),
                    np.round(got["score"], 4).tolist())) == want
    total = 1 + 3
    assert stats["blocks_decoded"] == 1, stats  # only a's block; b fully skipped
    assert stats["blocks_total"] == total


def test_dot_tf_and_prunes_via_max_tf():
    """Flat-AND under dot_tf: driver blocks whose w·max_tf bound cannot
    reach the k-th score stop the traversal."""
    import numpy as np

    from bitfunnel_spark.plans.wand import BlockCache, and_topk

    a = ("body", "a")
    b = ("body", "b")
    # driver a: block 0 has tf 9s, block 1 tf 1s — with k=2 filled from
    # block 0 at score ≥ 2·(9+?)... bound of block 1 is low
    raw = {
        a: _seg_rows([1, 2, 3, 4, 5, 6, 7, 8], [9, 9, 8, 8, 1, 1, 1, 1],
                     [10] * 8, block_size=4),
        b: _seg_rows(list(range(1, 9)), [5] * 8, [10] * 8, block_size=4),
    }
    idf = {a: 2.0, b: 1.0}
    stats = {}
    got = and_topk([a, b], [a, b], idf, 2, BlockCache(raw, stats, bound="dot_tf"))
    want = _exhaustive_dot_tf(raw, [a, b], idf, 2)
    # exhaustive over the intersection == union here (same doc range)
    assert list(zip(got["doc_id"].tolist(),
                    np.round(got["score"], 4).tolist())) == want[:2]
    assert stats["blocks_decoded"] < stats["blocks_total"], stats


def test_dot_tf_bound_requires_max_tf_column():
    import pytest as _pytest

    from bitfunnel_spark.plans.wand import BlockCache

    rows = _seg_rows([1, 2, 3], [1, 1, 1], [10] * 3).drop(columns=["max_tf"])
    cache = BlockCache({("body", "x"): rows}, bound="dot_tf")
    with _pytest.raises(KeyError):
        cache.meta(("body", "x"))
