"""The benchmark's inputs are a pure function of the seed.

Run: python3 -m pytest perfbench/test_inputs.py -q
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from workloads import SERVE_DOCS as N  # noqa: E402


def _inputs(seed: int, path: str) -> tuple[str, list, list]:
    corpus = gen.make_corpus(seed, N)
    gen.write_documents(corpus, path)
    with open(path, "rb") as f:
        sha = hashlib.sha256(f.read()).hexdigest()
    queries = [q.text for q in gen.make_queries(corpus, seed, 50, {"head": 0.4, "mid": 0.3,
                                                                   "tail": 0.3}, stream=0)]
    logs = [q.text for q in gen.make_queries(corpus, seed, 50, {"head": 0.6, "mid": 0.3,
                                                                "tail": 0.1}, stream=10,
                                             pool_cap=40)]
    return sha, queries + logs, gen.make_bodies(corpus, seed, 10)


def test_same_seed_same_bytes(tmp_path):
    a = _inputs(7, str(tmp_path / "a.parquet"))
    b = _inputs(7, str(tmp_path / "b.parquet"))
    assert a == b


def test_other_seed_other_inputs(tmp_path):
    a = _inputs(7, str(tmp_path / "a.parquet"))
    b = _inputs(8, str(tmp_path / "b.parquet"))
    assert a[0] != b[0] and a[1] != b[1] and a[2] != b[2]


def test_bands_match_their_df():
    corpus = gen.make_corpus(3, N)
    frac = corpus.df / corpus.n_docs
    bands = gen.band_ranks(corpus)
    assert all(len(bands[b]) for b in gen.BANDS)
    assert (frac[bands["head"]] >= 0.10).all()
    assert ((frac[bands["mid"]] >= 0.005) & (frac[bands["mid"]] <= 0.02)).all()
    assert (frac[bands["tail"]] < 0.001).all()


def test_phrases_occur_in_the_corpus():
    corpus = gen.make_corpus(5, N)
    qs = gen.make_queries(corpus, 5, 100, {"head": 0.4, "mid": 0.3, "tail": 0.3}, stream=0)
    phrases = [q.text.strip('"') for q in qs if q.shape == "phrase"]
    assert phrases and all(any(p in t for t in corpus.texts) for p in phrases)
