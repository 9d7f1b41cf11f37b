"""Multi-term block-max pruning — the WAND / MaxScore analogue.

The reference skips work on multi-term queries by descending through coarse
"rank" rows before touching rank-0 bits (RankDownCompiler builds the
per-rank traversal, /root/reference/src/Plan/src/RankDownCompiler.cpp:1-171;
ByteCodeInterpreter::RunRankZero consumes it, ByteCodeInterpreter.cpp:111-166).
Our exact-index analogue exploits the per-block `max_partial` metadata that
every posting block carries (operators/segments.py): a block's best possible
BM25 contribution is idf·max_partial, so whole blocks — of the driver term
AND of every other term — can be skipped once the running k-th score proves
they cannot matter. The published algorithms this follows are Broder et al.'s
WAND and Ding & Suel's Block-Max WAND / the MaxScore family (public papers;
see PAPERS.md).

Two shapes:

- ``and_topk`` — flat conjunctions. The rarest term's blocks are visited in
  descending upper-bound order (ub = Σ over scoring terms of idf · max of
  overlapping block maxima; −inf when any conjunct has no overlapping block,
  since the intersection there is provably empty). Decoding stops when the
  k-th exact score beats every remaining block's bound.
- ``or_topk`` — flat disjunctions. MaxScore term-level skipping: terms are
  visited in descending max-contribution order with suffix sums; once the
  k-th score beats the suffix sum, remaining terms cannot introduce a new
  top-k doc (their docs either appeared in an earlier term — already scored
  exactly — or are bounded by the suffix). Within a term, blocks whose
  idf·max_partial + suffix bound is below the threshold are skipped too.

Both score candidates via ``score_selected``: per scoring term only the
blocks whose [first_doc, last_doc] range contains a candidate are decoded
(lazily, cached). Decoded-block counters in ``BlockCache.stats`` feed the
per-query instrumentation (plans/profile) and the pruning regression tests.

Determinism contract (same as plans/kernel.py): final scores round to 4 dp,
order (score desc, doc_id asc). Pruning thresholds keep an EPS = 1e-4 margin
so no doc whose rounded score could tie the k-th is ever skipped; the
accumulation order of score addends matches the exhaustive ``_score``
(sorted scoring terms), so both paths produce bit-identical float sums.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_EMPTY = np.empty(0, dtype=np.int64)
_EMPTYF = np.empty(0, dtype=np.float64)
_EMPTYI = np.empty(0, dtype=np.intp)
# scores round to 4 dp: a skipped doc with bound < kth - EPS rounds strictly
# below the k-th kept score, so it can never tie into the top-k
EPS = 1e-4


def _member(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    if sorted_arr.size == 0 or values.size == 0:
        return np.zeros(values.shape, dtype=bool)
    idx = np.searchsorted(sorted_arr, values)
    idx[idx == sorted_arr.size] = sorted_arr.size - 1
    return sorted_arr[idx] == values


class BlockCache:
    """Lazy per-block decoder over a query group's segment rows.

    ``raw`` maps (stream, term) → the group's pandas rows (segment schema).
    Block metadata (first/last doc, max_partial) is materialized once per
    term, sorted by first_doc; block payloads decode on first touch and are
    cached — shared across the queries of a batch. ``stats`` counts decoded
    vs total blocks (the pruning effectiveness signal)."""

    def __init__(self, raw: dict, stats: dict | None = None, bound: str = "bm25"):
        # ``bound`` selects the per-block upper-bound source: "bm25" reads
        # max_partial (bound = w·max_partial); "dot_tf" reads the integer
        # max_tf (bound = w·max_tf — the sparse dot-product similarity,
        # plans/scoring.py). The traversals (and_topk / or_topk) are
        # bound-agnostic: they consume meta[2] and score via
        # score_selected, both of which switch here.
        self.raw = raw
        self.bound = bound
        self._meta: dict = {}
        self._dec: dict = {}
        self._dec_tf: dict = {}
        self.stats = stats if stats is not None else {}
        self.stats.setdefault("blocks_decoded", 0)
        self.stats.setdefault("blocks_total", 0)

    def meta(self, key):
        m = self._meta.get(key)
        if m is None:
            rows = self.raw.get(key)
            if rows is None or len(rows) == 0:
                m = (_EMPTY, _EMPTY, _EMPTYF, [], [], _EMPTY, [], None, None)
            else:
                rows = rows.sort_values("first_doc", kind="stable")
                encs = (
                    [x if x is not None else "vb" for x in rows["enc"]]
                    if "enc" in rows.columns
                    else ["vb"] * len(rows)
                )
                if self.bound == "dot_tf":
                    if "max_tf" not in rows.columns:
                        raise KeyError(
                            "segment rows carry no max_tf block metadata — "
                            "rebuild the index to prune dot_tf queries"
                        )
                    bound_arr = rows["max_tf"].to_numpy(np.float64)
                    # min_partial is a BM25 lower bound — no dot_tf
                    # analogue is stored, so cursor head-skip disables
                    min_arr = None
                else:
                    bound_arr = rows["max_partial"].to_numpy(np.float64)
                    min_arr = (
                        rows["min_partial"].to_numpy(np.float64)
                        if "min_partial" in rows.columns
                        else None
                    )
                m = (
                    rows["first_doc"].to_numpy(np.int64),
                    rows["last_doc"].to_numpy(np.int64),
                    bound_arr,
                    rows["docs_vb"].tolist(),
                    rows["partials"].tolist(),
                    rows["n"].to_numpy(np.int64),
                    encs,
                    rows["tfs_vb"].tolist() if "tfs_vb" in rows.columns else None,
                    min_arr,
                )
                self.stats["blocks_total"] += len(m[0])
            self._meta[key] = m
        return m

    def decode_block(self, key, bi: int):
        ck = (key, bi)
        d = self._dec.get(ck)
        if d is None:
            from bitfunnel_spark.operators.codec import decode_doc_block

            meta = self.meta(key)
            docs = decode_doc_block(bytes(meta[3][bi]), meta[6][bi], int(meta[0][bi]))
            parts = np.frombuffer(bytes(meta[4][bi]), dtype=np.float64)
            d = (docs, parts)
            self._dec[ck] = d
            self.stats["blocks_decoded"] += 1
        return d

    def total_n(self, key) -> int:
        return int(self.meta(key)[5].sum())

    def is_dense(self, key) -> bool:
        """Dense-treatment terms (gap32 encoding) — demoted from driving
        intersections (the reference's private-rank-0 common-term analogue)."""
        meta = self.meta(key)
        return len(meta) > 6 and bool(meta[6]) and meta[6][0] == "gap32"

    def max_partial(self, key) -> float:
        mp = self.meta(key)[2]
        return float(mp.max()) if mp.size else 0.0

    def select_blocks(self, key, cand: np.ndarray) -> np.ndarray:
        """Indices of key's blocks whose [first, last] range contains at
        least one candidate (candidates sorted ascending)."""
        first, last = self.meta(key)[0], self.meta(key)[1]
        if first.size == 0 or cand.size == 0:
            return _EMPTYI
        lo = np.searchsorted(cand, first, side="left")
        sel = (lo < cand.size) & (cand[np.minimum(lo, cand.size - 1)] <= last)
        return np.flatnonzero(sel)

    def gather(self, key, bis) -> tuple[np.ndarray, np.ndarray]:
        """Concatenated, doc-sorted (docs, partials) of the given blocks."""
        bis = list(bis)
        if not bis:
            return _EMPTY, _EMPTYF
        ds, ps = [], []
        for bi in bis:
            d, p = self.decode_block(key, int(bi))
            ds.append(d)
            ps.append(p)
        d = np.concatenate(ds)
        p = np.concatenate(ps)
        if d.size > 1 and np.any(np.diff(d) < 0):
            # streaming increments interleave block doc ranges — re-sort
            o = np.argsort(d, kind="stable")
            d, p = d[o], p[o]
        return d, p

    def docs_partials_for(self, key, cand: np.ndarray):
        """(docs, partials) restricted to blocks containing a candidate —
        enough for exact membership AND exact scoring of ``cand``."""
        return self.gather(key, self.select_blocks(key, cand))

    def all_docs_partials(self, key):
        return self.gather(key, range(self.meta(key)[0].size))

    def decode_tf(self, key, bi: int) -> np.ndarray:
        """The block's integer term frequencies (cached) — needed only by
        blended-group scoring (tf re-saturation); term scoring reads the
        precomputed partials and never touches tfs_vb."""
        ck = (key, bi)
        t = self._dec_tf.get(ck)
        if t is None:
            from bitfunnel_spark.operators.codec import varbyte_decode

            meta = self.meta(key)
            if meta[7] is None:
                raise KeyError(f"segment rows for {key} carry no tfs_vb")
            t = varbyte_decode(bytes(meta[7][bi])).astype(np.int64)
            self._dec_tf[ck] = t
        return t

    def gather3(self, key, bis) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Concatenated, doc-sorted (docs, tfs, partials) of the blocks."""
        bis = list(bis)
        if not bis:
            return _EMPTY, _EMPTY, _EMPTYF
        ds, ts, ps = [], [], []
        for bi in bis:
            d, p = self.decode_block(key, int(bi))
            ds.append(d)
            ts.append(self.decode_tf(key, int(bi)))
            ps.append(p)
        d, t, p = np.concatenate(ds), np.concatenate(ts), np.concatenate(ps)
        if d.size > 1 and np.any(np.diff(d) < 0):
            o = np.argsort(d, kind="stable")
            d, t, p = d[o], t[o], p[o]
        return d, t, p

    def docs_tfs_partials_for(self, key, cand: np.ndarray):
        return self.gather3(key, self.select_blocks(key, cand))


def score_selected(
    cand: np.ndarray, scoring_keys: list, idf: dict, cache: BlockCache
) -> np.ndarray:
    """Exact scores of sorted candidates, decoding only candidate-bearing
    blocks. Addend order matches kernel._score (sorted scoring terms) so the
    float accumulation is bit-identical to the exhaustive path. Under
    ``cache.bound == "dot_tf"`` the per-posting factor is the integer tf
    (sparse dot product) instead of the BM25 partial."""
    score = np.zeros(cand.shape, dtype=np.float64)
    dot_tf = cache.bound == "dot_tf"
    for key in scoring_keys:
        w = idf.get(key, 0.0)
        if w == 0.0:
            continue
        if dot_tf:
            docs, tfs, _parts = cache.docs_tfs_partials_for(key, cand)
            vals = tfs.astype(np.float64)
        else:
            docs, vals = cache.docs_partials_for(key, cand)
        if docs.size == 0:
            continue
        m = _member(docs, cand)
        if m.any():
            score[m] += w * vals[np.searchsorted(docs, cand[m])]
    return score


def _range_max(values: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """max(values[lo_i:hi_i]) per i; -inf where the range is empty.
    One np.maximum.reduceat over interleaved (lo, hi) boundaries."""
    out = np.full(lo.shape, -np.inf)
    valid = hi > lo
    if not valid.any():
        return out
    a = np.concatenate((values, [-np.inf]))  # sentinel makes hi == len legal
    idx = np.stack((lo[valid], np.minimum(hi[valid], values.size)), axis=1).ravel()
    out[valid] = np.maximum.reduceat(a, idx)[::2]
    return out


def _overlap_bounds(first: np.ndarray, last: np.ndarray, qf: np.ndarray, ql: np.ndarray):
    """Per query range [qf_i, ql_i]: the [lo_i, hi_i) index window of blocks
    (sorted by first) that overlap it. Exact when `last` is monotone (the
    compacted-index invariant); conservative (lo=0) when streaming increments
    interleave ranges — still a correct upper bound."""
    hi = np.searchsorted(first, ql, side="right")
    if last.size > 1 and np.any(np.diff(last) < 0):
        lo = np.zeros(qf.shape, dtype=np.int64)
    else:
        lo = np.searchsorted(last, qf, side="left")
    return lo, hi


def _topk_select(docs_l: list, scores_l: list, k: int) -> pd.DataFrame:
    if not docs_l:
        return pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
        )
    docs = np.concatenate(docs_l)
    score = np.concatenate(scores_l)
    if docs.size > k:
        r4 = np.round(score, 4)
        idx = np.lexsort((docs, -r4))[:k]
        docs, score = docs[idx], score[idx]
    return pd.DataFrame({"doc_id": docs, "score": score})


def _kth(scores_l: list, k: int) -> float:
    alls = np.concatenate(scores_l)
    return float(np.partition(alls, alls.size - k)[alls.size - k])


def _head_skip(cache, key, lw: float, after) -> np.ndarray | None:
    """Boolean mask of key's blocks whose every doc is provably BEFORE the
    cursor (min-bound head-skip for deep pagination): a doc in block b has
    total score >= lw * min_partial(b) (other contributions are
    non-negative), and a score strictly above the rounded cursor score is
    excluded by the cursor regardless of doc id. None when min_partial
    metadata is absent (pre-upgrade segments) or lw carries no bound."""
    if after is None or lw <= 0.0:
        return None
    minp = cache.meta(key)[8]
    if minp is None:
        return None
    return lw * minp > after[0] + EPS


def _after_keep(docs: np.ndarray, score: np.ndarray, after) -> np.ndarray:
    """Cursor mask for deep pagination: docs strictly AFTER the
    (score desc, doc_id asc) cursor — compared on the ROUNDED score, the
    same key the ordering contract uses (kernel.py cursor semantics)."""
    r4 = np.round(score, 4)
    return (r4 < after[0]) | ((r4 == after[0]) & (docs > after[1]))


def restrict(cand: np.ndarray, allow: np.ndarray | None, deny: np.ndarray | None) -> np.ndarray:
    """Apply fact restriction (allow: sorted doc ids that MUST contain the
    doc — the reference's fact rows ANDed into the match) and tombstone
    exclusion (deny: sorted soft-deleted ids — the reference's "document
    active" row, Row.h:34-35) to a sorted candidate array. An empty
    ``allow`` keeps nothing; only ``allow=None`` means unrestricted."""
    if allow is not None and cand.size:
        cand = cand[_member(allow, cand)]  # _member over an empty allow: all False
    if deny is not None and deny.size and cand.size:
        cand = cand[~_member(deny, cand)]
    return cand


def driver_order(keys: list, cache: BlockCache) -> list:
    """Conjunct evaluation order: rarest-first, with dense-treatment lists
    demoted from driving (index 0 drives the traversal). A dense list is the
    worst galloping driver; the reference's common terms likewise sit in
    shared rank-0 rows that are ANDed in, never enumerated
    (/root/reference/src/Index/src/TreatmentPrivateSharedRank0And3.cpp:32-90)."""
    return sorted(set(keys), key=lambda kk: (cache.is_dense(kk), cache.total_n(kk), kk))


def and_topk(
    and_keys: list,
    scoring_keys: list,
    idf: dict,
    k: int,
    cache: BlockCache,
    allow: np.ndarray | None = None,
    deny: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Block-max top-k for a flat conjunction of terms (rank-down analogue).

    Driver = rarest conjunct. Each driver block gets an upper bound: its own
    idf·max_partial (if scoring) plus, per other scoring conjunct, idf · max
    of the overlapping blocks' maxima — and −inf when ANY conjunct has no
    overlapping block (the intersection there is empty). Blocks are visited
    in descending bound order; traversal stops once k results are held and
    the next bound is below the k-th exact score − EPS."""
    keys = driver_order(and_keys, cache)
    driver = keys[0]
    d_first, d_last, d_maxp = cache.meta(driver)[:3]
    if d_first.size == 0:
        return _topk_select([], [], k)
    scoring_set = set(scoring_keys)
    ub = np.zeros(d_first.shape, dtype=np.float64)
    if driver in scoring_set:
        ub += idf.get(driver, 0.0) * d_maxp
    for key in keys[1:]:
        f, l, mp = cache.meta(key)[:3]
        if f.size == 0:
            return _topk_select([], [], k)
        lo, hi = _overlap_bounds(f, l, d_first, d_last)
        dead = hi <= lo
        if key in scoring_set:
            om = _range_max(mp, lo, hi)
            ub = ub + np.where(dead, -np.inf, idf.get(key, 0.0) * np.maximum(om, 0.0))
        else:
            ub[dead] = -np.inf
    if driver in scoring_set:
        hs = _head_skip(cache, driver, idf.get(driver, 0.0), after)
        if hs is not None:
            ub[hs] = -np.inf  # every doc there is before the cursor
    order = np.argsort(-ub, kind="stable")
    others = keys[1:]
    docs_l: list = []
    scores_l: list = []
    count = 0
    kth = -np.inf
    for bi in order:
        b_ub = float(ub[bi])
        if not np.isfinite(b_ub):
            break  # all remaining blocks are provably empty intersections
        if count >= k and b_ub < kth - EPS:
            break  # no remaining block can contribute a top-k score
        cand, _ = cache.decode_block(driver, int(bi))
        cand = restrict(cand, allow, deny)
        for key in others:
            if cand.size == 0:
                break
            od, _ = cache.docs_partials_for(key, cand)
            cand = cand[_member(od, cand)]
        if cand.size == 0:
            continue
        sc = score_selected(cand, scoring_keys, idf, cache)
        if after is not None:
            keep = _after_keep(cand, sc, after)
            cand, sc = cand[keep], sc[keep]
            if cand.size == 0:
                continue
        docs_l.append(cand)
        scores_l.append(sc)
        count += cand.size
        if count >= k:
            kth = _kth(scores_l, k)
    return _topk_select(docs_l, scores_l, k)


def or_topk(
    or_keys: list,
    scoring_keys: list,
    idf: dict,
    k: int,
    cache: BlockCache,
    allow: np.ndarray | None = None,
    deny: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """MaxScore top-k for a flat disjunction of body terms.

    Terms are visited in descending max-contribution order (idf · global
    max_partial). A doc not seen in terms 0..i−1 is bounded by term i's
    block max + the suffix sum of later terms' maxima; once the k-th exact
    score beats that bound, the block (or the whole remaining term tail) is
    skipped. Every emitted doc is scored exactly over ALL terms."""
    keys = sorted(set(or_keys))
    scoring_set = set(scoring_keys)

    def _w(key):  # weight only for scoring keys — bounds stay tight
        return idf.get(key, 0.0) if key in scoring_set else 0.0

    maxc = {key: _w(key) * cache.max_partial(key) for key in keys}
    order = sorted(keys, key=lambda kk: (-maxc[kk], kk))
    suffix = np.zeros(len(order) + 1, dtype=np.float64)
    for i in range(len(order) - 1, -1, -1):
        suffix[i] = suffix[i + 1] + maxc[order[i]]
    seen = _EMPTY
    docs_l: list = []
    scores_l: list = []
    count = 0
    kth = -np.inf
    for i, key in enumerate(order):
        if count >= k and suffix[i] < kth - EPS:
            break  # unseen docs of remaining terms are bounded by suffix[i]
        f, _l, mp = cache.meta(key)[:3]
        if f.size == 0:
            continue
        w = _w(key)
        keep_b = np.ones(f.size, dtype=bool)
        hs = _head_skip(cache, key, w, after)
        if hs is not None:
            keep_b &= ~hs  # deep page: block's every doc is before the cursor
        if count >= k:
            keep_b &= w * mp + suffix[i + 1] >= kth - EPS
        bsel = np.flatnonzero(keep_b)
        docs, _ = cache.gather(key, bsel)
        new = docs if seen.size == 0 else docs[~_member(seen, docs)]
        new = restrict(new, allow, deny)
        if new.size == 0:
            continue
        seen = np.sort(np.concatenate((seen, new))) if seen.size else np.sort(new)
        sc = score_selected(new, scoring_keys, idf, cache)
        if after is not None:
            keep = _after_keep(new, sc, after)
            new, sc = new[keep], sc[keep]
            if new.size == 0:
                continue
        docs_l.append(new)
        scores_l.append(sc)
        count += new.size
        if count >= k:
            kth = _kth(scores_l, k)
    return _topk_select(docs_l, scores_l, k)


# ---------------------------------------------------------------------------
# blended pseudo-terms under block-max (VERDICT r3 item 4)
#
# A SynGroup / FieldGroup scores as ONE saturated pseudo-term
# (idf_blend · sat(Σ w·tf, D); plans/kernel._score). BM25 saturation
# sat(tf, D) = tf(k1+1)/(tf+D) is concave through the origin, so it is
# subadditive — sat(a+b) ≤ sat(a)+sat(b) — and sat(w·tf) ≤ max(w,1)·sat(tf)
# (monotonicity for w ≤ 1, concavity for w > 1). Hence a SOUND per-block
# upper bound for a blended group:
#
#     group score ≤ idf_blend · Σ_members max(w,1) · max_partial(member)
#
# — the members' stored BM25 partials bound the blend without decoding.
# That bound is what lets blend-mode queries ride and_topk/or_topk instead
# of the exhaustive kernel (the reference applies its rank-down machinery
# to EVERY node type — src/Plan/src/RankDownCompiler.cpp:1-171). Exact
# scoring of surviving candidates reuses kernel._score over candidate-
# bearing blocks, so the float accumulation stays bit-identical to the
# exhaustive path.

def route_units(ast):
    """('term'|'and'|'or', units) for pruned-eligible ASTs incl. blended
    groups, else None. A unit is ('key', (stream, term)) or
    ('group', ((key, w), ...)). AND needs ≥ 1 term unit (groups can't
    drive the galloping intersection); a bare group routes as OR."""
    from bitfunnel_spark.plans.ast import And, FieldGroup, Or, SynGroup, Term

    def unit_of(node):
        if isinstance(node, Term):
            return ("key", (node.stream, node.text))
        if isinstance(node, SynGroup):
            return ("group", tuple(((t.stream, t.text), 1.0) for t in node.children))
        if isinstance(node, FieldGroup):
            return ("group", tuple(node.weighted))
        return None

    if isinstance(ast, Term):
        return ("term", [unit_of(ast)])
    if isinstance(ast, (SynGroup, FieldGroup)):
        return ("or", [unit_of(ast)])
    if isinstance(ast, And):
        units = [unit_of(c) for c in ast.children]
        if any(u is None for u in units) or not any(u[0] == "key" for u in units):
            return None
        return ("and", units)
    if isinstance(ast, Or) and getattr(ast, "min_match", 1) <= 1:
        units = [unit_of(c) for c in ast.children]
        if any(u is None for u in units):
            return None
        if any(u[0] == "key" and u[1][0] != "body" for u in units):
            return None  # non-body disjuncts take the exhaustive kernel
        return ("or", units)
    return None


def _blend_w(members, idf) -> float:
    """The group's blended idf (min over in-dictionary members — Lucene's
    blended docFreq, kernel._score); 0.0 when no member scores."""
    vals = [idf[k] for k, _w in members if k in idf]
    return min(vals) if vals else 0.0


def score_units(cand, scoring_keys, idf, cache, syn_groups, field_groups, k1):
    """Exact scores of sorted candidates for a plan with blended groups —
    kernel._score over postings restricted to candidate-bearing blocks
    (identical addend order ⇒ bit-identical to the exhaustive path)."""
    from bitfunnel_spark.plans.kernel import _score

    keys = set(scoring_keys)
    keys |= {k for g in syn_groups for k in g}
    keys |= {k for g in field_groups for k, _w in g}
    postings = {key: cache.docs_tfs_partials_for(key, cand) for key in keys}
    return _score(
        cand, postings, sorted(scoring_keys), idf,
        syn_groups, k1, field_groups,
    )


def units_topk(
    kind: str,
    units: list,
    scoring_keys: list,
    idf: dict,
    k: int,
    cache: BlockCache,
    allow: np.ndarray | None = None,
    deny: np.ndarray | None = None,
    syn_groups=(),
    field_groups=(),
    k1: float = 1.2,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Block-max top-k dispatch for a routed (kind, units) query."""
    if all(u[0] == "key" for u in units):
        keys = [u[1] for u in units]
        fn = or_topk if kind == "or" else and_topk
        return fn(keys, scoring_keys, idf, k, cache, allow=allow, deny=deny, after=after)

    def scorer(cand):
        return score_units(
            cand, scoring_keys, idf, cache, syn_groups, field_groups, k1
        )

    if kind == "or":
        return _or_units(units, scoring_keys, idf, k, cache, allow, deny, scorer, after)
    return _and_units(units, scoring_keys, idf, k, cache, allow, deny, scorer, after)


def _or_units(units, scoring_keys, idf, k, cache, allow, deny, scorer, after=None):
    """MaxScore over the flattened member list: each member's bound weight
    is its exact idf (term units, scoring keys only) or the group's
    idf_blend · max(w, 1) (subadditivity bound). A key reached through
    several units sums its bound weights — conservative, still sound."""
    scoring_set = set(scoring_keys)
    w_eff: dict = {}
    lw_eff: dict = {}  # LOWER-bound weight: score >= lw * partial (head-skip)
    for u in units:
        if u[0] == "key":
            key = u[1]
            wk = idf.get(key, 0.0) if key in scoring_set else 0.0
            w_eff[key] = w_eff.get(key, 0.0) + wk
            lw_eff[key] = max(lw_eff.get(key, 0.0), wk)
        else:
            blend = _blend_w(u[1], idf)
            for key, w in u[1]:
                w_eff[key] = w_eff.get(key, 0.0) + blend * max(float(w), 1.0)
                # sat(Σ w·tf) >= min(w,1)·sat(tf_member) by concavity
                lw_eff[key] = max(lw_eff.get(key, 0.0), blend * min(float(w), 1.0))
    keys = sorted(w_eff)
    maxc = {key: w_eff[key] * cache.max_partial(key) for key in keys}
    order = sorted(keys, key=lambda kk: (-maxc[kk], kk))
    suffix = np.zeros(len(order) + 1, dtype=np.float64)
    for i in range(len(order) - 1, -1, -1):
        suffix[i] = suffix[i + 1] + maxc[order[i]]
    seen = _EMPTY
    docs_l: list = []
    scores_l: list = []
    count = 0
    kth = -np.inf
    for i, key in enumerate(order):
        if count >= k and suffix[i] < kth - EPS:
            break
        f, _l, mp = cache.meta(key)[:3]
        if f.size == 0:
            continue
        keep_b = np.ones(f.size, dtype=bool)
        hs = _head_skip(cache, key, lw_eff[key], after)
        if hs is not None:
            keep_b &= ~hs
        if count >= k:
            keep_b &= w_eff[key] * mp + suffix[i + 1] >= kth - EPS
        bsel = np.flatnonzero(keep_b)
        docs, _ = cache.gather(key, bsel)
        new = docs if seen.size == 0 else docs[~_member(seen, docs)]
        new = restrict(new, allow, deny)
        if new.size == 0:
            continue
        seen = np.sort(np.concatenate((seen, new))) if seen.size else np.sort(new)
        sc = scorer(new)
        if after is not None:
            keep = _after_keep(new, sc, after)
            new, sc = new[keep], sc[keep]
            if new.size == 0:
                continue
        docs_l.append(new)
        scores_l.append(sc)
        count += new.size
        if count >= k:
            kth = _kth(scores_l, k)
    return _topk_select(docs_l, scores_l, k)


def _and_units(units, scoring_keys, idf, k, cache, allow, deny, scorer, after=None):
    """and_topk generalized to group conjuncts. The driver is the rarest
    TERM conjunct (route_units guarantees one exists; a group matches the
    union of its members and cannot gallop). Per driver block, a group
    conjunct contributes idf_blend · Σ_members max(w,1) · overlap-max — and
    −inf when NO member has an overlapping block (the group cannot match
    there, so the intersection is provably empty)."""
    term_keys = [u[1] for u in units if u[0] == "key"]
    groups = [u[1] for u in units if u[0] == "group"]
    keys = driver_order(term_keys, cache)
    driver = keys[0]
    d_first, d_last, d_maxp = cache.meta(driver)[:3]
    if d_first.size == 0:
        return _topk_select([], [], k)
    scoring_set = set(scoring_keys)
    ub = np.zeros(d_first.shape, dtype=np.float64)
    if driver in scoring_set:
        ub += idf.get(driver, 0.0) * d_maxp
    for key in keys[1:]:
        f, l, mp = cache.meta(key)[:3]
        if f.size == 0:
            return _topk_select([], [], k)
        lo, hi = _overlap_bounds(f, l, d_first, d_last)
        dead = hi <= lo
        if key in scoring_set:
            om = _range_max(mp, lo, hi)
            ub = ub + np.where(dead, -np.inf, idf.get(key, 0.0) * np.maximum(om, 0.0))
        else:
            ub[dead] = -np.inf
    if driver in scoring_set:
        hs = _head_skip(cache, driver, idf.get(driver, 0.0), after)
        if hs is not None:
            ub[hs] = -np.inf  # every doc there is before the cursor
    for members in groups:
        blend = _blend_w(members, idf)
        gsum = np.zeros(d_first.shape, dtype=np.float64)
        alive = np.zeros(d_first.shape, dtype=bool)
        for key, w in members:
            f, l, mp = cache.meta(key)[:3]
            if f.size == 0:
                continue
            lo, hi = _overlap_bounds(f, l, d_first, d_last)
            live = hi > lo
            alive |= live
            om = _range_max(mp, lo, hi)
            gsum += np.where(live, blend * max(float(w), 1.0) * np.maximum(om, 0.0), 0.0)
        ub = np.where(alive, ub + gsum, -np.inf)
    order = np.argsort(-ub, kind="stable")
    others = keys[1:]
    docs_l: list = []
    scores_l: list = []
    count = 0
    kth = -np.inf
    for bi in order:
        b_ub = float(ub[bi])
        if not np.isfinite(b_ub):
            break
        if count >= k and b_ub < kth - EPS:
            break
        cand, _ = cache.decode_block(driver, int(bi))
        cand = restrict(cand, allow, deny)
        for key in others:
            if cand.size == 0:
                break
            od, _ = cache.docs_partials_for(key, cand)
            cand = cand[_member(od, cand)]
        for members in groups:
            if cand.size == 0:
                break
            hit = np.zeros(cand.shape, dtype=bool)
            for key, _w in members:
                od, _ = cache.docs_partials_for(key, cand)
                if od.size:
                    hit |= _member(od, cand)
            cand = cand[hit]
        if cand.size == 0:
            continue
        sc = scorer(cand)
        if after is not None:
            keep = _after_keep(cand, sc, after)
            cand, sc = cand[keep], sc[keep]
            if cand.size == 0:
                continue
        docs_l.append(cand)
        scores_l.append(sc)
        count += cand.size
        if count >= k:
            kth = _kth(scores_l, k)
    return _topk_select(docs_l, scores_l, k)
