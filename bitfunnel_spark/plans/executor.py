"""DataFrame-path query executor.

Evaluates a boolean query + BM25 entirely with declarative DataFrame ops —
Catalyst handles pushdown/broadcast/codegen. This path is the correctness
anchor (oracle-comparable, see plans/oracle.py) and is itself scalable: one
filtered scan of postings (term-key pushdown), one hash aggregation by
doc_id, a broadcast join of the tiny per-query term dictionary, and a global
top-k (partial per-partition TopK then final — Spark's TakeOrderedAndProject).

The kernel path (plans/kernel.py) replaces the hash-agg with galloping
intersection + block-max WAND over encoded segments; both must produce
rank-identical results (tested).

Semantics (SURVEY §2.5):
- AND/OR/NOT over per-document hit sets; NOT terms never score.
- Phrase = adjacency of constituent tokens (exact, via the tokenized text);
  constituents also contribute to BM25 like unigrams (the reference treats a
  phrase as the AND of its grams — TermMatchTreeConverter.cpp:55-229).
- Scoring: BM25 over the positive scoring keys — body terms always, non-body
  (field) terms when query-boosted (field-weighted scoring).
- Determinism contract with the oracle: score rounded half-up to 4 dp,
  ordered (score desc, doc_id asc), ties broken by doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.functions.tokenizer import tokenize
from bitfunnel_spark.plans.ast import And, FieldGroup, Node, Not, Or, Phrase, SynGroup, Term
from bitfunnel_spark.plans.parser import parse_query
from bitfunnel_spark.plans.planner import QueryPlan, plan_query

_STREAM_TEXT = {"body": "content", "path": "path", "lang": "lang", "repo": "repo"}


def _slop_phrase_expr(phrase: Phrase, col: str, analyzer: str = "standard") -> Column:
    """Catalyst predicate for a sloppy phrase (ast.Phrase.slop > 0): there
    exist 0-based token positions p1 < p2 < ... < pn, one per constituent,
    with pn - p1 <= (n-1) + slop. Built as nested higher-order ``exists``
    over per-constituent position arrays — pure JVM expressions, no UDF."""
    toks = tokenize(col, analyzer)

    # NOTE: pyspark decides unary-vs-binary HOF lambdas by parameter COUNT,
    # so no default-arg captures here — closures only.
    def _positions(t: str) -> Column:
        def mark(x, i):
            return F.when(x == F.lit(t), i).otherwise(F.lit(-1))

        return F.filter(F.transform(toks, mark), lambda v: v >= 0)

    pos_arrays = [_positions(t) for t in phrase.tokens]
    n = len(phrase.tokens)
    span = F.lit(n - 1 + int(phrase.slop))

    def chain(k: int, prev: Column, first: Column) -> Column:
        if k == n:
            return F.lit(True)

        def pred(p):
            return (p > prev) & ((p - first) <= span) & chain(k + 1, p, first)

        return F.exists(pos_arrays[k], pred)

    return F.exists(pos_arrays[0], lambda p0: chain(1, p0, p0))


def _phrase_doc_ids(index, phrase: Phrase, candidates: DataFrame | None) -> DataFrame:
    """doc_ids whose tokenized stream text contains the phrase (adjacently
    when slop is 0; within the slop window otherwise).

    Scoped to candidate docs first (semi-join) so the corpus scan + regex
    only touches documents that already contain all constituents. The scale
    path replaces this with positional postings; the semantics anchor stays.
    """
    col = _STREAM_TEXT[phrase.stream]
    analyzer = getattr(getattr(index, "config", None), "analyzer", "standard")
    src = index.corpus
    if candidates is not None:
        src = src.join(candidates.select("doc_id"), "doc_id", "left_semi")
    if getattr(phrase, "slop", 0):
        return src.filter(_slop_phrase_expr(phrase, col, analyzer)).select("doc_id")
    padded = F.concat(F.lit(" "), F.array_join(tokenize(col, analyzer), " "), F.lit(" "))
    return src.filter(padded.contains(f" {phrase.text} ")).select("doc_id")


def _bool_expr(node: Node, phrase_cols: dict[Phrase, str]) -> Column:
    if isinstance(node, Term):
        return F.array_contains(F.col("hits"), node.key)
    if isinstance(node, (SynGroup, FieldGroup)):  # matches like an OR of members
        out = F.lit(False)
        for t in node.children:
            out = out | F.array_contains(F.col("hits"), t.key)
        return out
    if isinstance(node, Phrase):
        return F.coalesce(F.col(phrase_cols[node]), F.lit(False))
    if isinstance(node, Not):
        return ~_bool_expr(node.child, phrase_cols)
    if isinstance(node, And):
        out = F.lit(True)
        for c in node.children:
            out = out & _bool_expr(c, phrase_cols)
        return out
    if isinstance(node, Or):
        mm = getattr(node, "min_match", 1)
        if mm > 1:  # minimum-should-match: count matching children
            total = F.lit(0)
            for c in node.children:
                total = total + _bool_expr(c, phrase_cols).cast("int")
            return total >= F.lit(mm)
        out = F.lit(False)
        for c in node.children:
            out = out | _bool_expr(c, phrase_cols)
        return out
    raise TypeError(type(node))


def _hits(index, plan: QueryPlan, similarity: str = "bm25") -> DataFrame:
    """(doc_id, hits: array<stream:term>, score) for docs containing ≥1 query term.

    One filtered posting scan (the `key IN (...)` predicate prunes on the
    term/term_bucket partition columns when reading a persisted index) + one
    hash agg. idf arrives via broadcast join of the per-query slice of the
    term dictionary.

    ``similarity``: query-time scoring flavor (plans/scoring.py) — the
    match set is identical under every flavor; only per-posting scoring
    contributions change. Non-BM25 base weights are resolved driver-side
    (a per-query |terms|-sized literal map, like boosts) so both Spark
    executors fold the exact same float64 weights.
    """
    keys = sorted(f"{s}:{t}" for s, t in plan.terms)
    key_col = F.concat_ws(":", F.col("stream"), F.col("term"))
    p = index.postings.withColumn("key", key_col).filter(F.col("key").isin(keys))
    ts = index.term_stats.withColumn("key", key_col).filter(F.col("key").isin(keys))
    bm = index.config.bm25
    joined = p.join(F.broadcast(ts.select("key", "idf")), "key", "left")
    # NB: association mirrors the kernel path exactly — idf * (partial) with
    # partial = tf*(k1+1)/(tf+norm) — so float64 results are bit-identical
    # between executors (the kernel reads the partial precomputed at build).
    norm = bm.k1 * (1.0 - bm.b + bm.b * F.col("doclen") / F.lit(index.avgdl))
    partial = F.col("tf") * (bm.k1 + 1.0) / (F.col("tf") + norm)
    clamp_contrib = False
    if similarity != "bm25":
        from bitfunnel_spark.plans.scoring import LMD_MU, base_weight_map, mu_p_map

        weights = base_weight_map(
            index.idf_for_keys(plan.terms), similarity, index.n_docs
        )
        base = F.lit(0.0)
        for (s, t), w in sorted(weights.items()):
            base = F.when(F.col("key") == f"{s}:{t}", F.lit(float(w))).otherwise(base)
        eff_idf = base
        # per-posting saturation factor of the flavor (sqrt-tf over
        # sqrt-doclen for classic; the Dirichlet-smoothed LM term for
        # lm_dirichlet — per-term clamped at 0 below; constant for boolean)
        if similarity == "classic":
            partial = F.sqrt(F.col("tf").cast("double")) / F.sqrt(
                F.col("doclen").cast("double")
            )
        elif similarity == "lm_dirichlet":
            mup = mu_p_map(index.ctf_for_keys(plan.terms), index.body_total_tokens())
            mup_col = F.lit(1.0)
            for (s, t), v in sorted(mup.items()):
                mup_col = F.when(F.col("key") == f"{s}:{t}", F.lit(float(v))).otherwise(
                    mup_col
                )
            partial = F.log(1.0 + F.col("tf").cast("double") / mup_col) + F.log(
                F.lit(LMD_MU) / (F.col("doclen").cast("double") + F.lit(LMD_MU))
            )
            clamp_contrib = True
        elif similarity == "dot_tf":
            # sparse dot product: per-posting factor is the raw tf
            partial = F.col("tf").cast("double")
        else:
            partial = F.lit(1.0)
    else:
        eff_idf = F.coalesce(F.col("idf"), F.lit(0.0))
    # query-time boosts multiply into idf FIRST — (idf·boost)·partial — the
    # same association as the kernel's effective_idf, so float64 results
    # stay bit-identical between executors
    if plan.boosts:
        boost = F.lit(1.0)
        for (s, t), b in sorted(plan.boosts.items()):
            boost = F.when(
                F.col("key") == F.lit(f"{s}:{t}"), F.lit(float(b))
            ).otherwise(boost)
        eff_idf = eff_idf * boost
    # body keys always score; non-body keys score when field-boosted
    # (plan.scoring_keys — planner.plan_query)
    score_keys = sorted(f"{s}:{t}" for s, t in plan.scoring_keys)
    contrib = F.when(
        F.col("key").isin(score_keys), eff_idf * partial
    ).otherwise(F.lit(0.0))
    if clamp_contrib:
        # Lucene LMDirichletSimilarity clamps each term's (boosted)
        # contribution at 0 — "return score > 0 ? score : 0"
        contrib = F.greatest(contrib, F.lit(0.0))
    aggs = [F.collect_set("key").alias("hits"), F.sum("contrib").alias("score")]
    # blended synonym groups (Lucene SynonymQuery — plan.syn_groups): each
    # group scores as ONE pseudo-term. Per doc: summed member tf, and the
    # max-tf member's (tf, partial) pair. The blended idf is a GROUP-LEVEL
    # constant from global dfs (min idf ≡ idf of the max df — Lucene's
    # blended docFreq), resolved driver-side from the same dictionary the
    # kernel descriptor uses. Contribution = idf_blend * (tfsum*(k1+1) /
    # (tfsum + D)) with D recovered by exactly inverting the max-tf
    # member's partial — the same float op order as the kernel's _score,
    # so both executors stay bit-identical.
    joined = joined.withColumn("contrib", contrib)
    groups = getattr(plan, "syn_groups", ()) or ()
    idf_blends: list[float | None] = []
    if groups:
        gidf = index.idf_for_keys({k for g in groups for k in g})
        for group in groups:
            present = [gidf[k] for k in group if k in gidf]
            idf_blends.append(min(present) if present else None)
    for gi, group in enumerate(groups):
        if idf_blends[gi] is None:
            continue
        gkeys = sorted(f"{s}:{t}" for s, t in group)
        member = F.col("key").isin(gkeys)
        aggs += [
            F.sum(F.when(member, F.col("tf").cast("double")).otherwise(F.lit(0.0))).alias(f"_tfsum_{gi}"),
            F.max(F.when(member, F.struct(F.col("tf").cast("double").alias("tf"), partial.alias("pt")))).alias(f"_best_{gi}"),
        ]
    # combined-fields groups (FieldGroup — BM25F): per-member tf columns
    # (ONE posting per (doc, stream, term), so max(CASE) is a scalar pick),
    # plus the max-raw-tf member's (tf, partial) struct for norm recovery.
    # The weighted tf sum folds OUTSIDE the agg in fixed sorted-member
    # order — the same left-associated accumulation as the kernel's _score
    # and the SQL oracle, so float64 stays bit-identical.
    fgroups = getattr(plan, "field_groups", ()) or ()
    fidf_blends: list[float | None] = []
    if fgroups:
        fgidf = index.idf_for_keys({k for g in fgroups for k, _w in g})
        for group in fgroups:
            present = [fgidf[k] for k, _w in group if k in fgidf]
            fidf_blends.append(min(present) if present else None)
    for gi, group in enumerate(fgroups):
        if fidf_blends[gi] is None:
            continue
        gkeys = sorted(f"{s}:{t}" for s, t in (k for k, _w in group))
        member = F.col("key").isin(gkeys)
        aggs.append(
            F.max(F.when(member, F.struct(F.col("tf").cast("double").alias("tf"), partial.alias("pt")))).alias(f"_fbest_{gi}")
        )
        for mi, (kk, _w) in enumerate(group):
            aggs.append(
                F.max(
                    F.when(F.col("key") == f"{kk[0]}:{kk[1]}", F.col("tf").cast("double"))
                ).alias(f"_ftf_{gi}_{mi}")
            )
    out = joined.groupBy("doc_id").agg(*aggs)
    if groups or fgroups:
        k1 = bm.k1
        score = F.col("score")
        for gi in range(len(groups)):
            if idf_blends[gi] is None:
                continue
            tfsum = F.col(f"_tfsum_{gi}")
            tfm = F.col(f"_best_{gi}.tf")
            ptm = F.col(f"_best_{gi}.pt")
            d_norm = tfm * F.lit(k1 + 1.0) / ptm - tfm
            blended = F.lit(float(idf_blends[gi])) * (
                tfsum * F.lit(k1 + 1.0) / (tfsum + d_norm)
            )
            score = score + F.when(tfsum > 0, blended).otherwise(F.lit(0.0))
        for gi, group in enumerate(fgroups):
            if fidf_blends[gi] is None:
                continue
            tfsum = F.lit(0.0)
            for mi, (_kk, w) in enumerate(group):
                tfsum = tfsum + F.lit(float(w)) * F.coalesce(
                    F.col(f"_ftf_{gi}_{mi}"), F.lit(0.0)
                )
            tfm = F.col(f"_fbest_{gi}.tf")
            ptm = F.col(f"_fbest_{gi}.pt")
            d_norm = tfm * F.lit(k1 + 1.0) / ptm - tfm
            blended = F.lit(float(fidf_blends[gi])) * (
                tfsum * F.lit(k1 + 1.0) / (tfsum + d_norm)
            )
            score = score + F.when(tfsum > 0, blended).otherwise(F.lit(0.0))
        out = out.withColumn("score", score).select("doc_id", "hits", "score")
    return out


def _matched(
    index, plan: QueryPlan, facts: list[str] | None = None,
    similarity: str = "bm25", restrict: DataFrame | None = None,
) -> DataFrame:
    if similarity != "bm25":
        from bitfunnel_spark.plans.scoring import check_similarity

        check_similarity(similarity, plan, index.config.bm25.b)
    hits = _hits(index, plan, similarity)
    # ambient doc restriction: run_aggs attaches `_restrict_docs` to an
    # index COPY so every serving aggregation composes with ES range
    # filters without threading a parameter through each op; _matched is
    # the one dataframe match surface, so applying it here covers
    # index.match, scored_matches, and search_dataframe alike. The kernel
    # executor applies the same restriction as per-group allow arrays
    # (kernel.run_log).
    amb = getattr(index, "_restrict_docs", None)
    if amb is not None:
        hits = hits.join(amb.select("doc_id"), "doc_id", "left_semi")
    if restrict is not None:
        # doc-level restriction (ES range filters / post_filter — the
        # metadata-predicate channel, plans/dsl.py): a semi-join Catalyst
        # sizes (broadcast when the restriction is narrow, shuffle join
        # otherwise — no driver-resident doc array, no size cap). Applied
        # before phrase verification so positional work only touches
        # surviving candidates. Scores stay epoch-frozen: df/idf/avgdl are
        # full-index statistics, the restriction only filters the match
        # set — the same contract facts and tombstones follow.
        hits = hits.join(restrict.select("doc_id"), "doc_id", "left_semi")
    phrase_cols: dict[Phrase, str] = {}
    for i, (ph, _neg) in enumerate(plan.phrases):
        if ph in phrase_cols:
            continue
        name = f"_ph_{i}"
        phrase_cols[ph] = name
        ph_docs = _phrase_doc_ids(index, ph, hits).withColumn(name, F.lit(True))
        hits = hits.join(ph_docs, "doc_id", "left")
    out = hits.filter(_bool_expr(plan.ast, phrase_cols))
    # fact sets AND in as semi-joins (broadcast when small — Catalyst picks);
    # tombstones mask via anti-join (the "document active" row, Row.h:34-35)
    if facts:
        for name in facts:
            if name not in index.facts:
                raise KeyError(f"unknown fact {name!r} (define_fact first)")
            out = out.join(index.facts[name], "doc_id", "left_semi")
    if index.tombstones:
        tomb = index.spark.createDataFrame(
            [(int(d),) for d in sorted(index.tombstones)], "doc_id long"
        )
        out = out.join(F.broadcast(tomb), "doc_id", "left_anti")
    return out


def _as_plan(query) -> QueryPlan:
    if isinstance(query, QueryPlan):
        return query
    if isinstance(query, str):
        return plan_query(parse_query(query))
    return plan_query(query)  # an AST Node


def match_dataframe(
    index, query, facts: list[str] | None = None,
    restrict: DataFrame | None = None,
) -> DataFrame:
    """Unscored boolean match set (the reference's semantics —
    ResultsBuffer.h:38-88 holds matches only). ``restrict`` ANDs a
    DataFrame[doc_id] restriction in as a semi-join (see _matched)."""
    return _matched(index, _as_plan(query), facts, restrict=restrict).select(
        "doc_id"
    )


def scored_matches(
    index, query, facts: list[str] | None = None
) -> DataFrame:
    """The FULL match set with BM25 scores — DataFrame[(doc_id, score)],
    score rounded to 4 dp, no top-k. The input to rescoring layers
    (serving.function_score) that must see every match, not a truncated
    top-k (Elasticsearch applies score functions during scoring, before
    any result-window cut)."""
    plan = _as_plan(query)
    return _matched(index, plan, facts).select(
        "doc_id", F.round(F.col("score"), 4).alias("score")
    )


def search_dataframe(
    index, query, k: int = 10, facts: list[str] | None = None,
    after: tuple[float, int] | None = None, similarity: str = "bm25",
    restrict: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k as DataFrame[(doc_id, score)]; see module docstring for the
    determinism contract. ``after=(score, doc_id)`` pages past the cursor
    (search_after semantics — the filter keeps the job k-row at any depth).
    ``similarity`` swaps the scoring flavor (plans/scoring.py). ``restrict``
    ANDs a DataFrame[doc_id] restriction in as a semi-join BEFORE top-k
    (ES filter semantics — the page is the top of the filtered set)."""
    plan = _as_plan(query)
    res = _matched(index, plan, facts, similarity, restrict=restrict).select(
        "doc_id", F.round(F.col("score"), 4).alias("score")
    )
    if after is not None:
        s, d = round(float(after[0]), 4), int(after[1])
        res = res.filter(
            (F.col("score") < s) | ((F.col("score") == s) & (F.col("doc_id") > d))
        )
    return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
