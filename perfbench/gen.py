"""Seeded inputs for the benchmark: corpus, query log, DSL bodies.

Everything is a pure function of ``(seed, n_docs)``, computed in one
process with NumPy — no Spark, and nothing from the engine's own
generators (``sources/corpus.synthetic_corpus``, ``plans/generator``), so
a change to the engine cannot move the workload.

Corpus: a Zipf(s=1) vocabulary of ``VOCAB`` pseudo-words (fixed-length
consonant-vowel words, so no word collides with a query operator or with
another word) and lognormal document lengths. Written as the testdata
``documents`` parquet schema (doc_id, text, lang, source, n_chars), which
the engine loads through ``load_documents`` and the DuckDB oracle reads
byte for byte.

Query log: terms are picked by their measured document frequency into
three bands — head (df >= 10% of docs), mid (0.5%..2%) and tail (< 0.1%)
— and combined into five shapes: AND, OR, NOT, phrase (a run of two
adjacent tokens sampled from a real document) and field (``lang:``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 30_000
ZIPF_S = 1.0
DOCLEN_MU = np.log(80.0)
DOCLEN_SIGMA = 0.9
DOCLEN_MIN, DOCLEN_MAX = 3, 1_500
LANGS = ("en", "de", "fr", "es", "it", "nl")
LANG_P = (0.5, 0.15, 0.12, 0.1, 0.08, 0.05)
SOURCES = ("web", "news", "wiki", "forum")

BANDS = ("head", "mid", "tail")
SHAPES = ("and", "or", "not", "phrase", "field")
_CONS, _VOW = "bdfgklmnprstvz", "aeiou"
_SYLL = [c + v for c in _CONS for v in _VOW]


def word(rank: int) -> str:
    """The vocabulary word of Zipf rank ``rank`` (0-based): three
    syllables, i.e. a fixed-length base-70 numeral — distinct per rank."""
    n = len(_SYLL)
    return _SYLL[rank // (n * n) % n] + _SYLL[rank // n % n] + _SYLL[rank % n]


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64
    texts: list[str]
    langs: list[str]
    sources: list[str]
    tokens: np.ndarray  # Zipf ranks of every token, docs concatenated
    offsets: np.ndarray  # doc i's tokens are tokens[offsets[i]:offsets[i+1]]
    df: np.ndarray  # document frequency per rank

    @property
    def n_docs(self) -> int:
        return len(self.texts)

    def stats(self) -> dict:
        return {
            "docs": self.n_docs,
            "tokens": int(self.tokens.size),
            "text_bytes": int(sum(len(t) for t in self.texts)),
            "vocab_used": int(np.count_nonzero(self.df)),
        }


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    lens = np.clip(
        np.rint(rng.lognormal(DOCLEN_MU, DOCLEN_SIGMA, n_docs)), DOCLEN_MIN, DOCLEN_MAX
    ).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    tokens = np.minimum(np.searchsorted(cdf, rng.random(int(offsets[-1]))), VOCAB - 1)
    words = np.array([word(r) for r in range(VOCAB)], dtype=object)
    toks = words[tokens]
    texts = [" ".join(toks[offsets[i]:offsets[i + 1]]) for i in range(n_docs)]
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    sources = [SOURCES[i] for i in rng.integers(0, len(SOURCES), n_docs)]
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    pairs = np.unique(doc_of * VOCAB + tokens)
    df = np.bincount(pairs % VOCAB, minlength=VOCAB)
    return Corpus(
        doc_ids=np.arange(n_docs, dtype=np.int64), texts=texts, langs=langs,
        sources=sources, tokens=tokens, offsets=offsets, df=df,
    )


def write_documents(corpus: Corpus, path: str) -> None:
    """One-row-group parquet with a fixed schema and no pandas metadata, so
    the same corpus always serialises to the same bytes."""
    table = pa.table(
        {
            "doc_id": pa.array(corpus.doc_ids, pa.int64()),
            "text": pa.array(corpus.texts, pa.string()),
            "lang": pa.array(corpus.langs, pa.string()),
            "source": pa.array(corpus.sources, pa.string()),
            "n_chars": pa.array([len(t) for t in corpus.texts], pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, corpus.n_docs), compression="snappy")


def band_ranks(corpus: Corpus) -> dict[str, np.ndarray]:
    """Ranks whose measured df/N falls in each band (tail needs df >= 2 so
    a tail term still matches more than one document)."""
    frac = corpus.df / corpus.n_docs
    ranks = np.arange(VOCAB)
    return {
        "head": ranks[frac >= 0.10],
        "mid": ranks[(frac >= 0.005) & (frac <= 0.02)],
        "tail": ranks[(frac < 0.001) & (corpus.df >= 2)],
    }


@dataclass(frozen=True)
class Query:
    text: str
    band: str
    shape: str


def make_queries(corpus: Corpus, seed: int, n: int, mix: dict[str, float],
                 stream: int, pool_cap: int | None = None) -> list[Query]:
    """``n`` query strings; ``mix`` gives each band's share, shapes cycle
    uniformly. The band and shape of the i-th query do not depend on the
    seed (each query takes the band furthest below its share so far), so
    every seed runs the same mix in the same order; only the words change.
    ``stream`` separates independent logs drawn from one seed.
    ``pool_cap`` keeps only the most frequent words of each band, so the
    queries of one log share terms."""
    rng = np.random.Generator(np.random.PCG64([seed, 2, stream]))
    pools = {b: p[:pool_cap] for b, p in band_ranks(corpus).items()}
    head = pools["head"]
    count = dict.fromkeys(mix, 0)
    out = []
    for i in range(n):
        band = max(mix, key=lambda b: mix[b] * (i + 1) - count[b])
        count[band] += 1
        shape = SHAPES[i % len(SHAPES)]
        pool = pools[band]
        a, b = (word(int(r)) for r in rng.choice(pool, 2, replace=False))
        if shape == "and":
            # a tail AND tail is almost always empty: pair tail with head
            if band == "tail":
                b = word(int(rng.choice(head)))
            text = f"{a} {b}"
        elif shape == "or":
            text = f"{a} | {b}"
        elif shape == "not":
            text = f"{a} -{word(int(rng.choice(head)))}"
        elif shape == "field":
            text = f"lang:{LANGS[int(rng.integers(0, 3))]} {a}"
        else:
            text = '"' + " ".join(_phrase_run(corpus, rng, pool)) + '"'
        out.append(Query(text, band, shape))
    return out


def _phrase_run(corpus: Corpus, rng, pool: np.ndarray) -> list[str]:
    """Two adjacent tokens of a real document whose first token is in the
    band's pool: a phrase that matches at least that document."""
    r = int(rng.choice(pool))
    where = np.flatnonzero(corpus.tokens[:-1] == r)
    ends = corpus.offsets[1:]
    # drop positions that are the last token of their document
    doc = np.searchsorted(corpus.offsets, where, side="right") - 1
    where = where[where + 1 < ends[doc]]
    if where.size == 0:
        return [word(r)]
    p = int(rng.choice(where))
    return [word(int(corpus.tokens[p])), word(int(corpus.tokens[p + 1]))]


def make_bodies(corpus: Corpus, seed: int, n: int) -> list[dict]:
    """ES bodies: a ``match`` over two mid/head words plus a ``range``
    filter on doclen (a band of the lognormal length distribution)."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    pools = band_ranks(corpus)
    pool = np.concatenate((pools["head"], pools["mid"]))
    out = []
    for i in range(n):
        a, b = (word(int(r)) for r in rng.choice(pool, 2, replace=False))
        lo = (20, 40, 60)[i % 3]
        out.append({
            "query": {"bool": {
                "must": [{"match": {"body": f"{a} {b}"}}],
                "filter": [{"range": {"doclen": {"gte": lo, "lte": lo * 4}}}],
            }},
            "size": 10,
        })
    return out


def shares(queries: list[Query]) -> dict:
    n = max(1, len(queries))
    return {
        "band": {b: round(sum(q.band == b for q in queries) / n, 4) for b in BANDS},
        "shape": {s: round(sum(q.shape == s for q in queries) / n, 4) for s in SHAPES},
    }


def digest(*parts) -> str:
    """sha256 over JSON-serialisable parts: a fingerprint of the inputs."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True).encode())
    return h.hexdigest()
