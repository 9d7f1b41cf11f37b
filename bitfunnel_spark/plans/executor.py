"""The declarative reference executor — a verifier, not a serving path.

Evaluates a boolean query + BM25 entirely with declarative DataFrame ops:
one filtered scan of the row-form postings, one hash aggregation by doc_id,
a broadcast join of the per-query term dictionary, and a global top-k.
Nothing under serving runs it: every served route takes its match sets and
scores from the one kernel (plans/kernel.run_log). This module is the
exhaustive evaluation that the kernel-parity and fuzz-parity tests and
``cli verify`` compare the kernel against — the role of the reference's
MatchVerifier (src/Plan/src/MatchVerifier.cpp:128-167). The DuckDB oracle
(plans/oracle.py) is the independent check of both.

Semantics (SURVEY §2.5):
- AND/OR/NOT over per-document hit sets; NOT terms never score.
- Phrase = adjacency of constituent tokens (exact, via the tokenized text —
  kernel._phrase_doc_ids); constituents also contribute to BM25 like
  unigrams (the reference treats a phrase as the AND of its grams —
  TermMatchTreeConverter.cpp:55-229).
- Scoring: BM25 over the positive scoring keys — body terms always, non-body
  (field) terms when query-boosted (field-weighted scoring).
- Determinism contract with the oracle: score rounded half-up to 4 dp,
  ordered (score desc, doc_id asc), ties broken by doc_id.
- Fact sets semi-join into the match with no size cap; the kernel takes
  the same fact sets as cogrouped allow rows (kernel._allow_rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.plans.ast import And, FieldGroup, Node, Not, Or, Phrase, SynGroup, Term
from bitfunnel_spark.plans.kernel import _phrase_doc_ids
from bitfunnel_spark.plans.planner import QueryPlan, as_plan


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
    similarity: str = "bm25",
) -> DataFrame:
    if similarity != "bm25":
        from bitfunnel_spark.plans.scoring import check_similarity

        check_similarity(similarity, plan, index.config.bm25.b)
    hits = _hits(index, plan, similarity)
    # ambient doc restriction (an index copy's `_restrict_docs` — ES range
    # filters and post_filter, plans/dsl.py): a semi-join; the kernel
    # applies the same restriction as per-group allow arrays (run_log)
    amb = getattr(index, "_restrict_docs", None)
    if amb is not None:
        hits = hits.join(amb.select("doc_id"), "doc_id", "left_semi")
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


def match_dataframe(index, query, facts: list[str] | None = None) -> DataFrame:
    """Unscored boolean match set (the reference's semantics —
    ResultsBuffer.h:38-88 holds matches only)."""
    return _matched(index, as_plan(query), facts).select("doc_id")


def scored_matches(index, query, facts: list[str] | None = None) -> DataFrame:
    """The FULL match set with BM25 scores — DataFrame[(doc_id, score)],
    score rounded to 4 dp, no top-k (kernel.score_kernel's reference)."""
    return _matched(index, as_plan(query), facts).select(
        "doc_id", F.round(F.col("score"), 4).alias("score")
    )


def search_dataframe(
    index, query, k: int = 10, facts: list[str] | None = None,
    after: tuple[float, int] | None = None, similarity: str = "bm25",
) -> DataFrame:
    """BM25 top-k as DataFrame[(doc_id, score)]; see module docstring for the
    determinism contract. ``after=(score, doc_id)`` pages past the cursor
    (search_after semantics). ``similarity`` swaps the scoring flavor
    (plans/scoring.py)."""
    res = _matched(index, as_plan(query), facts, similarity).select(
        "doc_id", F.round(F.col("score"), 4).alias("score")
    )
    if after is not None:
        s, d = round(float(after[0]), 4), int(after[1])
        res = res.filter(
            (F.col("score") < s) | ((F.col("score") == s) & (F.col("doc_id") > d))
        )
    return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
