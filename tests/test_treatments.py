"""Treatment-differentiated posting encodings: the encoder must route term
runs to raw/vb/gap32 by df band, every decode path must handle all three,
query results must be invariant to the physical encoding, and dense lists
must never drive intersections."""

import numpy as np
import pandas as pd
import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from bitfunnel_spark.operators.codec import decode_doc_block
from bitfunnel_spark.operators.segments import (
    ENC_GAP32,
    ENC_RAW,
    ENC_VB,
    _encode_posting_arrays,
    decode_group,
)
from tests.conftest import reference_search


def _enc_arrays(docs, tfs, rk, **kw):
    return _encode_posting_arrays(
        np.asarray(docs, dtype=np.int64),
        np.asarray(tfs, dtype=np.int64),
        np.full(len(docs), 10.0),
        np.asarray(rk, dtype=np.int64),
        block_size=4, k1=1.2, b=0.75, avgdl=10.0, **kw,
    )


def test_encoder_routes_by_df_band():
    # group of 100 docs: run A df=1 (rare at <5%), run B df=10 (mid),
    # run C df=50 (dense at >25%)
    docs = [7] + list(range(0, 100, 10)) + list(range(0, 100, 2))
    tfs = [1] * len(docs)
    rk = [0] * 1 + [1] * 10 + [2] * 50
    enc = _enc_arrays(docs, tfs, rk, rare_df_frac=0.05, dense_df_frac=0.25,
                      n_docs_group=100)
    by_run = {}
    for run_key, e in zip(enc["run_keys"], enc["enc"]):
        by_run.setdefault(int(run_key), set()).add(e)
    assert by_run[0] == {ENC_RAW}
    assert by_run[1] == {ENC_VB}
    assert by_run[2] == {ENC_GAP32}
    # every block decodes back to its exact doc ids under its encoding
    want = {0: [7], 1: list(range(0, 100, 10)), 2: list(range(0, 100, 2))}
    got = {}
    for i in range(len(enc["block_id"])):
        d = decode_doc_block(
            bytes(enc["docs_vb"][i]), enc["enc"][i], int(enc["first_doc"][i])
        )
        got.setdefault(int(enc["run_keys"][i]), []).extend(d.tolist())
    assert got == want


def test_encoder_defaults_all_vb():
    enc = _enc_arrays([1, 5, 9], [1, 1, 1], [0, 0, 0])
    assert set(enc["enc"]) == {ENC_VB}


def test_gap_overflow_demotes_to_vb():
    # dense-flagged run with an intra-block gap >= 2^32 must stay varbyte
    docs = [0, 1, 2, 2**33]
    enc = _enc_arrays(docs, [1] * 4, [0] * 4, rare_df_frac=0.0,
                      dense_df_frac=0.5, n_docs_group=4)
    assert set(enc["enc"]) == {ENC_VB}
    out = np.concatenate([
        decode_doc_block(bytes(b), e, int(f))
        for b, e, f in zip(enc["docs_vb"], enc["enc"], enc["first_doc"])
    ])
    assert out.tolist() == docs


def test_decode_group_mixed_encodings():
    docs = list(range(0, 40, 4)) + list(range(40))
    tfs = [2] * 10 + [1] * 40
    rk = [0] * 10 + [1] * 40
    enc = _enc_arrays(docs, tfs, rk, rare_df_frac=0.0, dense_df_frac=0.5,
                      n_docs_group=40)
    rows = pd.DataFrame(
        {
            "block_id": enc["block_id"],
            "n": enc["n"],
            "first_doc": enc["first_doc"],
            "last_doc": enc["last_doc"],
            "max_partial": enc["max_partial"],
            "enc": enc["enc"],
            "docs_vb": enc["docs_vb"],
            "tfs_vb": enc["tfs_vb"],
            "partials": enc["partials"],
        }
    )
    run_ids = enc["run_keys"]
    for rkey, want_docs, want_tf in [(0, list(range(0, 40, 4)), 2), (1, list(range(40)), 1)]:
        sub = rows[run_ids == rkey]
        d, t, p = decode_group(sub)
        assert d.tolist() == want_docs
        assert set(t.tolist()) == {want_tf}
        assert p.size == len(want_docs)


@pytest.fixture(scope="module")
def treated_index(spark, corpus):
    """Aggressive thresholds so the test corpus actually produces all
    treatment classes in most groups."""
    return FullTextIndex.build_fused(
        spark, corpus,
        BuildConfig(n_slices=4, block_size=8, rare_df_frac=0.03, dense_df_frac=0.2),
    )


def test_index_has_mixed_encodings(treated_index):
    encs = {
        r["enc"]
        for r in treated_index.segments.select("enc").distinct().collect()
    }
    assert ENC_VB in encs and ENC_RAW in encs and ENC_GAP32 in encs


@pytest.mark.parametrize(
    "q", ["data", "data fast", "data & the", "dup | vector", "lang:en data", "data -slow"]
)
def test_treated_search_parity(index, treated_index, q):
    """Query results must be invariant to the physical posting encoding:
    the treated index must rank-match both its own DataFrame path and the
    default-encoded index."""
    a = [(r["doc_id"], r["score"]) for r in treated_index.search(q, k=10, mode="kernel").collect()]
    b = [(r["doc_id"], r["score"]) for r in reference_search(treated_index, q, k=10).collect()]
    c = [(r["doc_id"], r["score"]) for r in reference_search(index, q, k=10).collect()]
    assert a == b == c


def test_dense_never_drives(treated_index):
    """driver_order must put a dense-treatment list after a vb list even when
    the dense list is shorter (the demotion the treatment exists for)."""
    from bitfunnel_spark.plans.wand import BlockCache, driver_order

    seg = treated_index.segments.toPandas()
    groups = {
        int(tk_): rows for tk_, rows in seg.groupby("term_key", sort=False)
    }
    # a term's treatment is group-local (df frac per (shard, slice)); this
    # test pools all groups into one cache, so only classify terms whose
    # treatment is UNANIMOUS across groups — is_dense reads one enc value
    dense_keys = [k for k, v in groups.items() if (v["enc"] == ENC_GAP32).all()]
    vb_keys = [k for k, v in groups.items() if (v["enc"] == ENC_VB).all()]
    assert dense_keys and vb_keys
    # pick the SHORTEST dense list and the LONGEST vb list — without
    # demotion the dense one would drive
    dk = min(dense_keys, key=lambda k: int(groups[k]["n"].sum()))
    vk = max(vb_keys, key=lambda k: int(groups[k]["n"].sum()))
    cache = BlockCache({k: groups[k] for k in (dk, vk)})
    order = driver_order([dk, vk], cache)
    assert order[0] == vk and order[-1] == dk


def test_treatment_grid_matches_sql_mirror(spark):
    """treatment_grid (TreatmentOptimal analogue) == its DuckDB mirror on a
    hand-built dictionary, and the winner is the hand-computed argmin."""
    import duckdb

    from bitfunnel_spark.operators.treatments import (
        DECODE_NS,
        treatment_grid,
        treatment_grid_sql,
    )

    n_docs = 1000
    dfs = [("alpha", 2), ("beta", 40), ("gamma", 300), ("delta", 900)]
    df_table = spark.createDataFrame(dfs, "term string, df long")
    got = treatment_grid(df_table, n_docs).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE dfs(term VARCHAR, df BIGINT)")
    con.executemany("INSERT INTO dfs VALUES (?, ?)", dfs)
    want = con.execute(
        "WITH " + treatment_grid_sql(str(n_docs))
    ).fetchall()
    got_rows = [
        (r["rare_bp"], r["dense_bp"], r["decode_ns"], r["io_ns"], r["total_ns"], r["pct_vs_best"])
        for r in got
    ]
    assert got_rows == [tuple(w) for w in want]

    # hand-check one cell: rare_bp=50 (df/N < 0.5% -> raw), dense_bp=2500
    # (df/N > 25% -> gap32): alpha (0.2%) raw, beta (4%) vb, gamma (30%)
    # and delta (90%) gap32
    cell = [r for r in got if r["rare_bp"] == 50 and r["dense_bp"] == 2500][0]
    exp_decode = (
        2 * DECODE_NS["raw"] + 40 * DECODE_NS["vb"] + (300 + 900) * DECODE_NS["gap32"]
    )
    # beta avg gap 1000/40=25 (<128 -> 1B vb); raw 8B, gap32 4B; io 0.5 ns/B
    exp_io = 0.5 * (2 * 8 + 40 * 1 + 300 * 4 + 900 * 4)
    assert cell["decode_ns"] == pytest.approx(exp_decode)
    assert cell["io_ns"] == pytest.approx(exp_io)
    # grid is cost-ordered and pct_vs_best anchored at 0
    totals = [r["total_ns"] for r in got]
    assert totals == sorted(totals)
    assert got[0]["pct_vs_best"] == 0.0
