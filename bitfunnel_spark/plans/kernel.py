"""Kernel-path query executor — one N-query kernel over posting segments.

The scale path (SURVEY §3.1 "Our Spark lifecycle"): queries are parsed and
planned driver-side, ONE tiny descriptor (per-query plans, idf, route and
top-k, plus the log-wide phrase routing and restrictions) is broadcast by
capture, and ONE job over the union of the queries' posting segments runs
a vectorized NumPy kernel per (shard, slice) group: decode → candidate
generation (rarest-first intersection for ANDs, union otherwise) → boolean
mask evaluation → BM25 from stored float64 partials (score = idf·partial —
no doc-table join; the segment store is self-sufficient) → per-group top-k.

Every execution variant is this one kernel over a query log:

- ``search_kernel`` / ``match_kernel`` run a log of one query;
- ``plans/batch.py`` (search_many, match_many, percolate) runs a whole log,
  the queries of a group sharing one block decode cache;
- ``plans/profile.py`` runs it with the counters sink on: a fresh decode
  cache per query, and METRIC_SCHEMA rows instead of result rows.

This mirrors the reference's execution shape: one compiled plan + one
per-slice interpreter loop (ByteCodeInterpreter::Run per slice buffer —
/root/reference/src/Plan/src/ByteCodeQueryEngine.cpp:86-112) with
(shard, slice) as the parallel unit, except our "interpreter" is NumPy over
compressed blocks instead of quadword bit-ANDs, and we add scoring.

Parallelism = n_shards × n_slices groups — thousands at cluster scale
(config.n_slices). On a persisted index, the `term IN (...)` filter prunes
(shard, term_bucket) partitions before any shuffle. Block skipping inside
the kernel: every posting read goes through the group's ``wand.BlockCache``,
which decodes only candidate-bearing blocks; scored flat term/group shapes
(single terms included) take block-max top-k (plans/wand.py — block-max
WAND for conjunctions, MaxScore for disjunctions); phrases/NOTs/nested
shapes and match sets (``k=None``, never scored) use the exhaustive
candidate+mask path below.

Phrases: evaluated exactly — from stored positions, from an indexed gram
posting list, or from corpus-derived synthetic posting rows unioned into
the scan (phrase_fallback_segments). The routing is decided once per log.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.config import POS_BITS, POS_SAFE_DOCLEN
from bitfunnel_spark.operators.segments import decode_group_positions
from bitfunnel_spark.plans.ast import And, FieldGroup, Node, Not, Or, Phrase, SynGroup, Term
from bitfunnel_spark.plans.executor import _as_plan, _phrase_doc_ids
from bitfunnel_spark.plans.planner import QueryPlan
from bitfunnel_spark.plans.wand import (
    _EMPTY,
    _EMPTYF,
    BlockCache,
    _after_keep,
    _member,
    driver_order,
    restrict,
    route_units,
    units_topk,
)

_NO_POSTINGS = (_EMPTY, None, _EMPTYF)
RESULT_SCHEMA = "query_id int, doc_id long, score double"
MATCH_SCHEMA = "query_id int, doc_id long"
METRIC_SCHEMA = (
    "query_id int, shard int, slice int, blocks_total long, blocks_decoded long, "
    "rows long, kernel_ms double"
)
_METRIC_COLS = [c.split()[0] for c in METRIC_SCHEMA.split(", ")]


def _positive_term_keys(node: Node, neg: bool = False) -> set[tuple[str, str]]:
    if isinstance(node, Term):
        return set() if neg else {(node.stream, node.text)}
    if isinstance(node, Phrase):
        return set() if neg else {(node.stream, t) for t in node.tokens}
    if isinstance(node, Not):
        return _positive_term_keys(node.child, not neg)
    out: set[tuple[str, str]] = set()
    for c in node.children:
        out |= _positive_term_keys(c, neg)
    return out


def _phrase_keys(ph: Phrase, desc: dict) -> list[tuple[str, str]]:
    """The posting key a phrase matches through: its gram term, its
    synthetic fallback term, or none (positional evaluation)."""
    if ph in desc["gram_phrases"]:
        return [(ph.stream, ph.text)]
    if ph in desc["fallback_phrases"]:
        return [(ph.stream, _phrase_term(ph))]
    return []


def _candidates(ast: Node, cache: BlockCache, desc: dict) -> np.ndarray:
    """Candidate doc set with progressive block pruning.

    AND fast path: decode the driver conjunct fully (rarest, dense lists
    demoted — wand.driver_order, the MatchTreeRewriter 'cheapest first'
    intent), then intersect the other conjuncts decoding only blocks that
    hold a surviving candidate. Otherwise: union of all positive terms'
    postings. Gram/fallback phrases contribute their phrase term as a
    conjunct (usually the rarest driver)."""
    if isinstance(ast, Term):
        return cache.all_docs_partials((ast.stream, ast.text))[0]
    conjuncts = ast.children if isinstance(ast, And) else (ast,)
    and_keys: list[tuple[str, str]] = []
    for c in conjuncts:
        if isinstance(c, Term):
            and_keys.append((c.stream, c.text))
        elif isinstance(c, Phrase):
            and_keys += [(c.stream, t) for t in c.tokens] + _phrase_keys(c, desc)
    if and_keys:
        keys = driver_order(and_keys, cache)
        cand = cache.all_docs_partials(keys[0])[0]
        for key in keys[1:]:
            if cand.size == 0:
                break
            cand = cand[_member(cache.docs_partials_for(key, cand)[0], cand)]
        return cand
    pos = sorted(_positive_term_keys(ast))
    if not pos:
        return _EMPTY
    return np.unique(np.concatenate([cache.all_docs_partials(k)[0] for k in pos]))


MAX_SLOP_PATTERNS = 512


def _slop_offset_vectors(n: int, slop: int) -> list[tuple[int, ...]]:
    """Every position pattern a sloppy phrase allows: strictly increasing
    offsets (0, o2, .., on) with on <= (n-1)+slop. C((n-1)+slop, n-1)
    vectors; bounded by MAX_SLOP_PATTERNS (a 2-term phrase allows slop up
    to 511, a 4-term phrase up to ~13 — beyond that the query is a
    different operator, not a phrase)."""
    from itertools import combinations
    from math import comb

    if comb(n - 1 + slop, n - 1) > MAX_SLOP_PATTERNS:
        raise ValueError(
            f"phrase slop {slop} over {n} tokens needs "
            f"{comb(n - 1 + slop, n - 1)} patterns (max {MAX_SLOP_PATTERNS})"
        )
    return [(0, *c) for c in combinations(range(1, n + slop), n - 1)]


def phrase_docs_from_positions(ph: Phrase, raw: dict) -> np.ndarray:
    """Docs (within one (shard, slice) group) containing the phrase,
    from positional postings — no corpus access.

    Exact phrase (slop 0): each occurrence of constituent k at position p
    supports a phrase start s = p - k; pack (doc, s) into one int64 key
    (doc << POS_BITS | s+off) and intersect the start-sets across
    constituents. Fully vectorized (np.repeat + np.isin). off =
    max(16, phrase_len + slop) keeps s+off >= 1 for every k (so long
    phrases never borrow from the doc-id field), and packed values >=
    2^POS_BITS are filtered out (indexes whose documents could reach that
    bound route phrases to the corpus path instead — see _descriptor /
    POS_SAFE_DOCLEN).

    Sloppy phrase (``"a b"~s``, ast.Phrase.slop): the same intersect run
    once per allowed offset vector (_slop_offset_vectors), union of the
    resulting doc sets. Constituent positions are decoded ONCE and reused
    across patterns."""
    n = len(ph.tokens)
    slop = int(getattr(ph, "slop", 0))
    off = max(16, n + slop)
    lim = np.int64(1) << np.int64(POS_BITS)
    occ: list[tuple[np.ndarray, np.ndarray]] = []
    for tok in ph.tokens:
        rows = raw.get((ph.stream, tok))
        if rows is None:
            return _EMPTY
        d, t, p = decode_group_positions(rows)
        if d.size == 0:
            return _EMPTY
        occ.append((np.repeat(d, t).astype(np.int64), p.astype(np.int64)))
    patterns = (
        [tuple(range(n))] if slop == 0 else _slop_offset_vectors(n, slop)
    )
    packed = []
    for offsets in patterns:
        keys = None
        for k in range(n):
            docs_k, p_k = occ[k]
            shifted = p_k - offsets[k] + off
            ok = shifted < lim  # keep the packed key inside the position field
            kk = (docs_k[ok] << np.int64(POS_BITS)) + shifted[ok]
            keys = kk if keys is None else keys[np.isin(keys, kk)]
            if keys.size == 0:
                keys = None
                break
        if keys is not None:
            packed.append(keys >> np.int64(POS_BITS))
    if not packed:
        return _EMPTY
    return np.unique(np.concatenate(packed))


def _group_phrase_docs(plan_phrases, cache: BlockCache, desc: dict) -> dict:
    """Per-group phrase doc sets, by physical design precedence:
    positional-kernel evaluation (stored positions) > indexed-gram posting
    list > synthetic corpus-derived posting rows (the exact fallback)."""
    out: dict = {}
    for ph, _neg in plan_phrases:
        if ph in out:
            continue
        if desc["use_positions"]:
            out[ph] = phrase_docs_from_positions(ph, cache.raw)
        else:
            out[ph] = cache.all_docs_partials(_phrase_keys(ph, desc)[0])[0]
    return out


def _mask(node: Node, cand: np.ndarray, postings, phrase_docs) -> np.ndarray:
    if isinstance(node, Term):
        return _member(postings.get((node.stream, node.text), _NO_POSTINGS)[0], cand)
    if isinstance(node, (SynGroup, FieldGroup)):  # matches like an OR of members
        out = np.zeros(cand.shape, dtype=bool)
        for key in node.keys:
            out |= _member(postings.get(key, _NO_POSTINGS)[0], cand)
        return out
    if isinstance(node, Phrase):
        return _member(phrase_docs.get(node, _EMPTY), cand)
    if isinstance(node, Not):
        return ~_mask(node.child, cand, postings, phrase_docs)
    if isinstance(node, And):
        out = np.ones(cand.shape, dtype=bool)
        for c in node.children:
            out &= _mask(c, cand, postings, phrase_docs)
        return out
    if isinstance(node, Or):
        mm = getattr(node, "min_match", 1)
        if mm <= 1:
            out = np.zeros(cand.shape, dtype=bool)
            for c in node.children:
                out |= _mask(c, cand, postings, phrase_docs)
            return out
        # minimum-should-match: count matching children per candidate
        n = np.zeros(cand.shape, dtype=np.int32)
        for c in node.children:
            n += _mask(c, cand, postings, phrase_docs)
        return n >= mm
    raise TypeError(type(node))


def _score(
    cand: np.ndarray, postings, scoring_keys: list, idf: dict,
    syn_groups=(), k1: float = 1.2, field_groups=(),
    similarity: str = "bm25", b: float = 0.75, avgdl: float = 1.0,
    mu_p: dict | None = None,
) -> np.ndarray:
    """BM25 from stored partials: score = Σ over scoring (stream, term)
    keys of idf_key · partial_key(doc). Keys and idf are (stream, term)-
    keyed — body terms always, non-body keys when field-boosted.

    Blended groups score as ONE pseudo-term each: synonym groups (Lucene
    SynonymQuery; plan.syn_groups) as weight-1.0 members, then
    combined-fields groups (BM25F — ast.FieldGroup). Per doc, tf̃ = Σ w·tf
    accumulated in the group's fixed sorted-member order (exactly the order
    the DataFrame executor and the SQL oracle fold in, so float64 stays
    bit-identical; 1.0·tf == tf), saturated ONCE with the doc's norm,
    weighted by the blended idf = min over in-dictionary members (idf is
    monotone-decreasing in df, so min idf ≡ idf of the max df — Lucene's
    blended docFreq, from GLOBAL stats, never group-local presence). The
    norm denominator D = k1(1-b+b·dl/avgdl) is recovered from the
    max-raw-tf member's stored (tf, partial) pair: D = tf(k1+1)/partial −
    tf — exactly inverting the build-time partial (doclen is the body
    count on EVERY posting, so D is a doc-level constant and any present
    member inverts to it), so no doclen access is needed."""
    from bitfunnel_spark.plans.scoring import LMD_MU

    mu_p = mu_p or {}
    score = np.zeros(cand.shape, dtype=np.float64)
    for key in scoring_keys:
        docs, tfs_all, parts = postings.get(key, _NO_POSTINGS)
        if docs.size == 0:
            continue
        m = _member(docs, cand)
        if not m.any():
            continue
        idxs = np.searchsorted(docs, cand[m])
        if similarity == "bm25":
            score[m] += idf.get(key, 0.0) * parts[idxs]
        elif similarity in ("classic", "lm_dirichlet"):
            # plans/scoring.py: the per-key weight in `idf` is the boosted
            # base weight (idf_c² for classic, 1.0 for lm_dirichlet); the
            # per-posting factor needs the integer doclen, recovered
            # EXACTLY by inverting the stored BM25 partial — the same
            # inversion the blended-group scorer uses for D
            tf = tfs_all[idxs].astype(np.float64)
            part = parts[idxs]
            d_norm = tf * (k1 + 1.0) / part - tf
            dl = np.rint(((d_norm / k1) - 1.0 + b) * avgdl / b)
            if similarity == "classic":
                score[m] += idf.get(key, 0.0) * (np.sqrt(tf) / np.sqrt(dl))
            else:
                # Lucene LMDirichletSimilarity, per-term clamp at 0
                mp = mu_p.get(key)
                if mp is None:
                    continue
                contrib = idf.get(key, 0.0) * (
                    np.log(1.0 + tf / mp) + np.log(LMD_MU / (dl + LMD_MU))
                )
                score[m] += np.maximum(contrib, 0.0)
        elif similarity == "dot_tf":
            # sparse dot product: (weight·boost)·tf — tf is an exact small
            # integer in float64, so the product is bit-reproducible by
            # the DataFrame executor and the SQL oracle
            score[m] += idf.get(key, 0.0) * tfs_all[idxs].astype(np.float64)
        else:  # boolean: constant (boost) per matched scoring key
            score[m] += idf.get(key, 0.0)
    groups = [tuple((kk, 1.0) for kk in g) for g in syn_groups] + list(field_groups)
    for group in groups:
        in_dict = [(kk, w) for kk, w in group if kk in idf]
        if not in_dict:
            continue
        idf_blend = min(idf[kk] for kk, _w in in_dict)
        present = [
            (kk, w) for kk, w in in_dict if postings.get(kk, _NO_POSTINGS)[0].size
        ]
        if not present:
            continue
        tfsum = np.zeros(cand.shape, dtype=np.float64)
        best_tf = np.zeros(cand.shape, dtype=np.float64)
        best_part = np.ones(cand.shape, dtype=np.float64)  # unused where best_tf=0
        for kk, w in present:
            docs, tfs, parts = postings[kk]
            m = _member(docs, cand)
            if not m.any():
                continue
            idxs = np.searchsorted(docs, cand[m])
            tf = tfs[idxs].astype(np.float64)
            tfsum[m] += w * tf
            # deterministic D source: the member with maximal tf (ties are
            # harmless — equal tf ⇒ equal stored partial ⇒ equal D)
            better = np.zeros(cand.shape, dtype=bool)
            better[m] = tf > best_tf[m]
            sel = better[m]
            bm = m & better
            best_tf[bm] = tf[sel]
            best_part[bm] = parts[idxs][sel]
        matched = tfsum > 0
        if not matched.any():
            continue
        d_norm = best_tf[matched] * (k1 + 1.0) / best_part[matched] - best_tf[matched]
        score[matched] += idf_blend * (
            tfsum[matched] * (k1 + 1.0) / (tfsum[matched] + d_norm)
        )
    return score


def _evaluate(
    qid: int, plan: QueryPlan, cache: BlockCache, desc: dict, allow: np.ndarray | None,
):
    """One query over one group: (docs, scores) — scores None for match
    sets. Routed shapes take block-max top-k; everything else the
    exhaustive candidate + mask (+ score) path. ``allow`` is the group's
    sorted allowed doc ids (fact sets ∩ doc-metadata restriction), None
    when nothing restricts the query."""
    k, idf, after = desc["k"], desc["idf"][qid], desc["after"]
    deny = desc["deleted"]
    route = desc["routes"][qid]
    if route is not None:
        # block-max pruning (WAND/MaxScore — plans/wand.py); blended
        # syn/field groups ride the same traversal via the subadditive
        # saturation bound; fact sets and metadata restrictions AND in as
        # `allow`, tombstones mask via `deny` (the reference's fact rows +
        # "document active" row, Row.h:34-35)
        res = units_topk(
            *route, desc["scoring"][qid], idf, k, cache,
            allow=allow, deny=deny, syn_groups=plan.syn_groups,
            field_groups=plan.field_groups, k1=desc["k1"], after=after,
        )
        return res["doc_id"].to_numpy(), res["score"].to_numpy()
    cand = restrict(_candidates(plan.ast, cache, desc), allow, deny)
    if cand.size == 0:
        return _EMPTY, _EMPTYF
    # postings of every query term, restricted to candidate-bearing blocks;
    # integer tfs decode only where a scorer reads them
    with_tf = k is not None and (
        desc["similarity"] != "bm25" or plan.syn_groups or plan.field_groups
    )
    postings = {}
    for key in plan.terms:
        if with_tf:
            postings[key] = cache.docs_tfs_partials_for(key, cand)
        else:
            d, p = cache.docs_partials_for(key, cand)
            postings[key] = (d, None, p)
    cand = cand[_mask(plan.ast, cand, postings, _group_phrase_docs(plan.phrases, cache, desc))]
    if k is None or cand.size == 0:
        return cand, None
    score = _score(
        cand, postings, desc["scoring"][qid], idf, plan.syn_groups, desc["k1"],
        plan.field_groups, similarity=desc["similarity"], b=desc["b"],
        avgdl=desc["avgdl"], mu_p=desc["mu_p"],
    )
    if after is not None:
        keep = _after_keep(cand, score, after)  # deep pagination (search_after)
        cand, score = cand[keep], score[keep]
    if cand.size > k:
        # per-group partial top-k (heap analogue): order by (round desc, doc asc)
        idx = np.lexsort((cand, -np.round(score, 4)))[:k]
        cand, score = cand[idx], score[idx]
    return cand, score


_NP_TYPES = {"int": np.int32, "long": np.int64, "double": np.float64}


def _schema(k: int | None, sink: bool) -> str:
    return METRIC_SCHEMA if sink else RESULT_SCHEMA if k is not None else MATCH_SCHEMA


def _empty(schema: str) -> pd.DataFrame:
    """A zero-row frame of a DDL schema, with typed columns."""
    cols = (f.split() for f in schema.split(", "))
    return pd.DataFrame({c: np.empty(0, _NP_TYPES[t]) for c, t in cols})


def _make_kernel(plans: list[QueryPlan], desc: dict, sink: bool, restricted: bool = False):
    """The per-(shard, slice) kernel closure over a whole query log.
    ``desc`` (see _descriptor) ships inside the serialized closure.

    Without the sink, the log's queries share one BlockCache: a block
    decodes at most once per group whatever the number of queries touching
    it. With the sink on, each query gets a fresh cache (exact per-query
    block counters) and the kernel emits one METRIC_SCHEMA row per query:
    blocks_total = blocks of the query's keys present in the group,
    blocks_decoded = blocks actually decoded (block-max pruning skips the
    rest), rows = result rows emitted, kernel_ms = its wall time.

    ``restricted``: the kernel takes a second, cogrouped frame — the
    group's allowed doc ids under the index's doc-metadata restriction
    (run_log) — and intersects it with the fact-set array; a group with
    nothing allowed, or with no segment rows, emits no rows."""
    keymap = _keymap(set().union(*desc["keys"]))
    scored = desc["k"] is not None
    bound = "dot_tf" if desc["similarity"] == "dot_tf" else "bm25"
    schema = _schema(desc["k"], sink)

    def run(pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if pdf.empty or (allow is not None and allow.size == 0):
            return _empty(schema)
        raw = {
            keymap[int(key)]: rows
            for key, rows in pdf.groupby("term_key", sort=False)
            if int(key) in keymap
        }
        shared = BlockCache(raw, bound=bound)
        group = (int(pdf["shard"].iloc[0]), int(pdf["slice"].iloc[0]))
        metrics, qids, docs_l, scores_l = [], [], [], []
        for qid, plan in enumerate(plans):
            cache = BlockCache(raw, bound=bound) if sink else shared
            t0 = time.perf_counter()
            docs, score = _evaluate(qid, plan, cache, desc, allow)
            if sink:
                for key in desc["keys"][qid]:
                    cache.meta(key)  # full footprint: untouched keys count too
                metrics.append((
                    qid, *group, cache.stats["blocks_total"],
                    cache.stats["blocks_decoded"], int(docs.size),
                    (time.perf_counter() - t0) * 1000.0,
                ))
            elif docs.size:
                qids.append(np.full(docs.size, qid, dtype=np.int32))
                docs_l.append(docs)
                scores_l.append(score)
        if sink:
            return pd.DataFrame(metrics, columns=_METRIC_COLS)
        out = {
            "query_id": np.concatenate([np.empty(0, np.int32), *qids]),
            "doc_id": np.concatenate([_EMPTY, *docs_l]),
        }
        if scored:
            out["score"] = np.concatenate([_EMPTYF, *scores_l])
        return pd.DataFrame(out)

    if not restricted:
        # one parameter: applyInPandas reads a two-parameter function as
        # (key, pdf)
        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            return run(pdf, desc["allow"])

        return kernel

    def restricted_kernel(pdf: pd.DataFrame, allowed: pd.DataFrame) -> pd.DataFrame:
        allow = np.unique(allowed["doc_id"].to_numpy(np.int64))
        if desc["allow"] is not None:
            allow = allow[_member(desc["allow"], allow)]
        return run(pdf, allow)

    return restricted_kernel


def _segment_filter(index, terms: set[tuple[str, str]]):
    """Pushdown-friendly segment predicate for a query's terms.

    The store is keyed by int64 term keys (computed identically driver-side,
    segments._term_key_py), so the filter is two plain-column IN-lists:
    `term_bucket IN` prunes (shard, term_bucket) partitions of a persisted
    store, `term_key IN` prunes parquet row groups via min/max stats (rows
    are written key-clustered). No computed-column predicate anywhere."""
    from bitfunnel_spark.operators.segments import _term_bucket_py, _term_key_py

    keys = sorted(_term_key_py(s, t) for s, t in terms)
    buckets = sorted({_term_bucket_py(k, index.config.term_buckets) for k in keys})
    return F.col("term_bucket").isin(buckets) & F.col("term_key").isin(keys)


def _keymap(terms: set[tuple[str, str]]) -> dict:
    """{term_key: (stream, term)} for a query's terms — the kernels stay
    string-keyed internally; only the pdf boundary translates."""
    from bitfunnel_spark.operators.segments import _term_key_py

    return {_term_key_py(s, t): (s, t) for s, t in terms}


def _phrase_term(ph: Phrase) -> str:
    """Synthetic dictionary term for a fallback phrase's posting rows. The
    NUL marker guarantees no collision with real or gram terms (tokenizer
    output never contains NUL); slop is part of the key because "a b" and
    "a b"~2 have different doc sets."""
    return f"{ph.text}\x00~{int(getattr(ph, 'slop', 0) or 0)}"


def phrase_fallback_segments(index, phrases) -> "DataFrame":
    """Distributed exact-phrase fallback — replaces the old driver-side
    collect of phrase doc-ids. Each phrase's corpus-derived doc set becomes
    synthetic posting blocks keyed by ``_phrase_term(ph)``, unioned into the
    query's segment scan, so the phrase evaluates in-kernel exactly like an
    indexed gram term. No match-set-sized data ever reaches the driver; the
    phrase scan's output flows executor-to-executor through the same
    one-shuffle encode the build uses. (Reference analogue: once planned, a
    phrase is an ordinary row — RowSet semantics.)"""
    from functools import reduce as _reduce

    from bitfunnel_spark.operators.segments import build_segments

    parts = []
    for ph in phrases:
        docs = _phrase_doc_ids(index, ph, None)
        parts.append(
            docs.join(index.doc_stats, "doc_id").select(
                F.lit(_phrase_term(ph)).alias("term"),
                F.lit(ph.stream).alias("stream"),
                "doc_id",
                F.lit(1).alias("tf"),
                "doclen",
                "shard",
                "slice",
            )
        )
    postings = _reduce(lambda a, b: a.unionByName(b), parts)
    return build_segments(postings, index.avgdl, index.config)


def use_gram_phrase(index, ph: Phrase) -> bool:
    """True when the phrase matches via an indexed n-gram term (reference
    parity: grams up to maxGramSize are ordinary terms — Document.cpp:
    152-165): body-stream phrase, length within config.max_gram_size, and
    the positional path (which subsumes grams) not active."""
    return (
        1 < len(ph.tokens) <= int(getattr(index.config, "max_gram_size", 1))
        and ph.stream == "body"
        and getattr(ph, "slop", 0) == 0  # gram postings encode exact adjacency only
        and not use_positional_phrases(index)
    )


def use_positional_phrases(index) -> bool:
    """Phrases run in-kernel from stored positions iff the segments
    physically carry positions (fused build with positions=True) AND every
    document's positions fit the packed 20-bit field — otherwise the exact
    corpus-derived path runs, distributed, via phrase_fallback_segments."""
    return (
        bool(getattr(index.config, "positions", False))
        and bool(getattr(index, "segments_positional", True))
        and index.max_doclen < POS_SAFE_DOCLEN
    )


def _descriptor(
    index, plans: list[QueryPlan], k: int | None, facts: list[str] | None = None,
    similarity: str = "bm25", after: tuple[float, int] | None = None,
) -> dict:
    """The one descriptor builder: every per-query decision is made here,
    once per log, on the driver — the kernel only executes it. A
    doc-metadata restriction (``index._restrict_docs``) is not part of it:
    it reaches the kernel as data, per group (run_log)."""
    from bitfunnel_spark.plans.planner import effective_idf
    from bitfunnel_spark.plans.scoring import base_weight_map, check_similarity, mu_p_map

    for plan in plans:
        check_similarity(similarity, plan, index.config.bm25.b)
    # driver-resident hash dictionary (TermTable analogue) when it fits,
    # else one filtered collect — index.idf_for_keys; query-time boosts
    # fold into idf here so every downstream scorer/bound sees (idf·boost).
    # Non-BM25 similarities (plans/scoring.py) swap the per-key base weight
    # driver-side, so the kernel scorer sees (weight·boost) the same way.
    terms = set().union(*(p.terms for p in plans))
    base = base_weight_map(index.idf_for_keys(terms), similarity, index.n_docs)
    idf = [effective_idf(p, {t: base[t] for t in p.terms if t in base}) for p in plans]
    mu_p: dict = {}
    if similarity == "lm_dirichlet":
        # lm_dirichlet per-key μ·p(t) (plans/scoring.mu_p_map)
        mu_p = mu_p_map(index.ctf_for_keys(terms), index.body_total_tokens())
    gram_phrases: set = set()
    fallback: set = set()
    use_positions = use_positional_phrases(index)
    if not use_positions:
        for plan in plans:
            for ph, _neg in plan.phrases:
                # gram-matched from the indexed posting list, else exact
                # adjacency via corpus — evaluated distributed as synthetic
                # posting rows (phrase_fallback_segments), never collected
                (gram_phrases if use_gram_phrase(index, ph) else fallback).add(ph)
    desc = {
        "k": k,
        "idf": idf,
        "scoring": [sorted(p.scoring_keys) for p in plans],
        "gram_phrases": frozenset(gram_phrases),
        "fallback_phrases": frozenset(fallback),
        "use_positions": use_positions,
        "similarity": similarity,
        # blended-group norm recovery and classic/LM doclen recovery
        # from stored partials (_score)
        "k1": index.config.bm25.k1,
        "b": index.config.bm25.b,
        "avgdl": index.avgdl,
        "mu_p": mu_p,
        # (score4, doc_id) search_after cursor
        "after": None if after is None else (round(float(after[0]), 4), int(after[1])),
        # tombstones + fact sets: sorted int64 doc-id arrays shipped in the
        # closure (the reference holds fact rows and the soft-delete row
        # in memory the same way)
        "deleted": (
            np.array(sorted(index.tombstones), dtype=np.int64) if index.tombstones else None
        ),
        "allow": index.fact_doc_ids(facts) if facts else None,
    }
    desc["keys"] = [
        frozenset(p.terms).union(*(_phrase_keys(ph, desc) for ph, _neg in p.phrases))
        for p in plans
    ]
    # block-max bounds: max_partial is BM25-shaped; dot_tf prunes via the
    # per-block max_tf metadata (BlockCache bound mode). Both need
    # non-negative weights (w·max is NOT an upper bound of w·x when w < 0;
    # a negative boost through the public API takes the exhaustive
    # scorer), and only scored queries have a top-k to prune against.
    desc["routes"] = [
        route_units(p.ast)
        if k is not None
        and similarity in ("bm25", "dot_tf")
        and all(w >= 0.0 for w in q.values())
        else None
        for p, q in zip(plans, idf)
    ]
    return desc


def run_log(
    index, plans: list[QueryPlan], k: int | None, facts: list[str] | None = None,
    similarity: str = "bm25", after: tuple[float, int] | None = None,
    sink: bool = False,
) -> DataFrame:
    """Run a query log through the one kernel in ONE job: one segment scan
    over the union of the queries' terms, one applyInPandas over (shard,
    slice) groups. Returns per-group rows — RESULT_SCHEMA (per-group top-k
    when ``k`` is set), MATCH_SCHEMA (full match sets, ``k=None``), or
    METRIC_SCHEMA when the counters ``sink`` is on.

    A doc-metadata restriction on the index (``_restrict_docs``, a
    DataFrame[doc_id] — ES range filters and post_filter, plans/dsl.py)
    travels as data: its doc ids pick up their (shard, slice) from
    doc_stats and cogroup with the segment groups, so each kernel call
    receives its own group's allow array — the reference's fact row
    ANDed into the plan, with no driver-collected doc array and no size
    cap. The unrestricted scan keeps the plain applyInPandas, which needs
    no Exchange over a prepare_serve'd segment store."""
    if index.segments is None:
        index.build_segments()
    desc = _descriptor(index, plans, k, facts, similarity, after)
    # the plans' terms plus the gram term of every gram-matched phrase (the
    # gram's posting list must reach the kernel); fallback phrase rows are
    # unioned in below
    scan = set().union(*(p.terms for p in plans))
    scan |= {(ph.stream, ph.text) for ph in desc["gram_phrases"]}
    seg = index.segments.filter(_segment_filter(index, scan))
    fb = desc["fallback_phrases"]
    if fb:
        seg = seg.unionByName(
            phrase_fallback_segments(
                index, sorted(fb, key=lambda p: (p.stream, p.text, p.slop))
            )
        )
    schema = _schema(k, sink)
    groups = seg.groupBy("shard", "slice")
    amb = getattr(index, "_restrict_docs", None)
    if amb is None:
        return groups.applyInPandas(_make_kernel(plans, desc, sink), schema)
    allow = amb.select("doc_id").join(index.doc_stats.select("doc_id", "shard", "slice"), "doc_id")
    return groups.cogroup(allow.groupBy("shard", "slice")).applyInPandas(
        _make_kernel(plans, desc, sink, restricted=True), schema
    )


def match_kernel(index, query, facts: list[str] | None = None) -> DataFrame:
    """Unscored boolean match set via the kernel path."""
    return run_log(index, [_as_plan(query)], None, facts).select("doc_id")


def search_kernel(
    index, query, k: int = 10, facts: list[str] | None = None,
    after: tuple[float, int] | None = None, similarity: str = "bm25",
) -> DataFrame:
    """BM25 top-k via the kernel path — rank-identical to search_dataframe.

    ``after=(score, doc_id)``: deep pagination (Elasticsearch search_after):
    return the k results strictly after the cursor in (score desc, doc_id
    asc) order. Pages stay k-row jobs at any depth — no window over the
    full result, no growing LIMIT; block-max traversals seed their
    threshold from the cursor (plans/wand.py head-skip)."""
    groups = run_log(index, [_as_plan(query)], k, facts, similarity, after)
    res = groups.select("doc_id", F.round(F.col("score"), 4).alias("score"))
    return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
