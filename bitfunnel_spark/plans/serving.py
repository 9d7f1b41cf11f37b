"""Serving-layer operators over the index: facets, snippets, more-like-this.

The reference engine returns raw boolean match sets only (ResultsBuffer,
/root/reference/inc/BitFunnel/Plan/ResultsBuffer.h) — faceting, result
snippets, and related-document retrieval are the serving features every
search deployment layers on top (public designs: Lucene faceting, the
Lucene/Solr highlighter, Lucene MoreLikeThis). Spark-first shapes:

- ``facet_counts`` — one semi-join of the match set against the corpus
  metadata projection, then a partial-aggregated groupBy per facet (the
  2-entry facet map explode doubles rows pre-agg; map-side combine folds
  them immediately). No collect; scales with the match set.
- ``snippets`` — touches ONLY the k result docs: the k-row result is
  broadcast into a corpus join (pruned scan on doc_id at the parquet
  level), tokenization and window slicing are Catalyst expressions
  (zero Python).
- ``more_like_this`` — one point fetch of the source document (pushed-down
  doc_id predicate), driver-side selection of its m most distinctive terms
  (tf·idf against the resident dictionary — the same TermTable lookup a
  query makes), then a standard OR query through the block-max kernel.
  The expensive part IS a normal query; MLT adds one point lookup.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bitfunnel_spark.functions.tokenizer import tokenize
from bitfunnel_spark.plans.planner import plan_query


def facet_counts(
    index, query: str, facets: tuple[str, ...] = ("lang", "repo"),
    facts: list[str] | None = None,
) -> DataFrame:
    """Facet value counts over a query's full match set.

    Returns DataFrame[(facet, value, n_docs)] ordered (facet, n_docs desc,
    value). ``facets`` name corpus metadata columns (lang, repo, ...).
    """
    matches = index.match(query, facts).select("doc_id")
    meta = index.corpus.select("doc_id", *facets)
    joined = meta.join(matches, "doc_id")
    kv = []
    for c in facets:
        kv.extend([F.lit(c), F.col(c)])
    pairs = joined.select(F.explode(F.create_map(*kv)).alias("facet", "value"))
    return (
        pairs.groupBy("facet", "value")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("facet", F.desc("n_docs"), "value")
    )


def rare_terms(
    index, query: str, by: str = "repo", max_doc_count: int = 1,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``rare_terms`` aggregation: values of ``by`` whose doc_count over
    the match set is <= max_doc_count, ordered (n_docs asc, value asc) —
    the long-tail mirror of the ``terms`` agg (whose most-common-first
    order plus a size cap can never surface the tail no matter how large
    the cap). One partial-agg groupBy on the metadata column; at 100 TB
    the agg state is |distinct values|, same as facet_counts — ES uses a
    CuckooFilter to bound memory instead; we have exact distributed agg
    state, so the exact computation IS the scale path."""
    matches = index.match(query, facts).select("doc_id")
    meta = index.corpus.select("doc_id", F.col(by).alias("value"))
    return (
        meta.join(matches, "doc_id")
        .groupBy("value")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") <= int(max_doc_count))
        .orderBy("n_docs", "value")
    )


def multi_terms(
    index, query: str, by: tuple[str, ...] = ("lang", "repo"),
    size: int = 10, facts: list[str] | None = None,
) -> DataFrame:
    """ES ``multi_terms`` aggregation: composite-key buckets over the
    match set, ordered (n_docs desc, key asc), top ``size``. One groupBy
    on the key tuple + a size-row TakeOrderedAndProject — never a
    cross-join of per-field buckets."""
    matches = index.match(query, facts).select("doc_id")
    meta = index.corpus.select("doc_id", *by)
    return (
        meta.join(matches, "doc_id")
        .groupBy(*by)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), *by)
        .limit(int(size))
    )


def _idx_analyzer(index) -> str:
    """Index-time body analyzer — non-positional fallbacks must tokenize
    with the same analyzer the postings were built with (a 'code' index
    splits identifiers; re-tokenizing with 'standard' would mis-place
    positions and drop matches)."""
    return getattr(getattr(index, "config", None), "analyzer", "standard")


def _ranked_scoring_terms(index, plan) -> list[str]:
    """Scoring terms rarest-first: idf desc (== df asc), term asc; terms
    absent from the dictionary (df = 0) are dropped — they cannot occur in
    any document."""
    idf = index.idf_for_terms({("body", t) for t in plan.scoring_terms})
    return [t for t in sorted(idf, key=lambda t: (-idf[t], t))]


def snippets(
    index, query: str, k: int = 10, window: int = 4, mode: str = "kernel",
    facts: list[str] | None = None, tags: tuple[str, str] | None = None,
) -> DataFrame:
    """Top-k search results with a token-window snippet.

    The snippet is the ±``window`` token context around the first body
    occurrence of the rarest scoring term present in the document
    (rarest = max idf, ties by term asc); documents matched only through
    non-body streams (lang:/repo:/path:) get an empty snippet. Returns
    DataFrame[(doc_id, score, snippet)] ordered (score desc, doc_id asc).

    ``tags=(pre, post)`` wraps every scoring-term token inside the
    fragment (the ES highlighter's pre_tags/post_tags) — a column
    expression over the token slice, so tagging adds no join and no
    Python. Default None keeps the plain fragment (the oracle-verified
    shape); ES's implicit ``<em>`` default is opt-in here.
    """
    res = index.search(query, k=k, mode=mode, facts=facts)
    # prepare (don't just parse): expansion/synonym queries must rank their
    # RESOLVED scoring terms, and the raw AST may hold unplannable nodes
    plan = plan_query(index.prepare_query(query))
    ordered = _ranked_scoring_terms(index, plan)

    docs = index.corpus.select("doc_id", "content").join(F.broadcast(res), "doc_id")
    docs = docs.select("doc_id", "score", tokenize("content", _idx_analyzer(index)).alias("tk"))
    if ordered:
        cands = F.array(
            *[
                F.struct(
                    F.lit(i).alias("rank"),
                    F.array_position("tk", F.lit(t)).alias("pos"),
                )
                for i, t in enumerate(ordered)
            ]
        )
        first = F.element_at(F.filter(cands, lambda s: s["pos"] > 0), 1)
        start = F.greatest(F.lit(1), first["pos"] - F.lit(window))
        length = first["pos"] + F.lit(window) - start + F.lit(1)
        frag = F.slice("tk", start, length)
        if tags is not None:
            pre, post = tags
            terms_arr = F.array(*[F.lit(t) for t in ordered])
            frag = F.transform(
                frag,
                lambda t: F.when(
                    F.array_contains(terms_arr, t),
                    F.concat(F.lit(pre), t, F.lit(post)),
                ).otherwise(t),
            )
        snippet = F.when(
            first.isNotNull(), F.concat_ws(" ", frag)
        ).otherwise(F.lit(""))
    else:
        snippet = F.lit("")
    return docs.select(
        "doc_id", "score", snippet.alias("snippet")
    ).orderBy(F.desc("score"), "doc_id")


def facet_stats(
    index, query: str, by: str = "lang", facts: list[str] | None = None,
) -> DataFrame:
    """Per-facet numeric statistics over a query's full match set (the
    Elasticsearch stats-aggregation shape): document count plus
    sum/avg/min/max of body document length per ``by``-facet value.

    Returns DataFrame[(<by>, n_docs, sum_doclen, avg_doclen, min_doclen,
    max_doclen)] ordered by the facet value; avg rounded to 4 dp.

    Scale shape: match set → two doc_id equi-joins (facet value, doclen)
    → one groupBy with map-side partial aggregation. No windows, no
    collects; skew-safe for the same reason facet_counts is (a mega-facet
    partially aggregates before the shuffle).
    """
    matches = index.match(query, facts).select("doc_id")
    grp = index.corpus.select("doc_id", by)
    dl = index.doc_stats.select("doc_id", "doclen")
    rows = matches.join(grp, "doc_id").join(dl, "doc_id")
    return (
        rows.groupBy(by)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doclen").alias("sum_doclen"),
            F.round(F.avg("doclen"), 4).alias("avg_doclen"),
            F.min("doclen").alias("min_doclen"),
            F.max("doclen").alias("max_doclen"),
        )
        .orderBy(by)
    )


def facet_mad(
    index, query: str, by: str = "lang", facts: list[str] | None = None,
) -> DataFrame:
    """Per-facet median absolute deviation of body document length over a
    query's match set (the ES ``median_absolute_deviation`` aggregation):
    MAD = median(|x − median(x)|) per ``by`` value. Deviation, documented:
    ES computes it approximately over TDigest sketches; this is the EXACT
    statistic (Spark's exact ``percentile``), so the oracle can certify
    values — swap to ``percentile_approx`` at corpus scales where an
    exact per-group median's sort memory bites (ES's own accuracy caveat
    applies there).

    Returns DataFrame[(<by>, n_docs, mad)] ordered by the facet value.

    Scale shape: two groupBy passes over the matched (facet, doclen)
    frame — medians per group, broadcast k-row join back, deviations per
    group. Both aggregations partially combine map-side; the per-group
    exact percentile is the only memory-heavy state (see the approx note
    above)."""
    matches = index.match(query, facts).select("doc_id")
    grp = index.corpus.select("doc_id", by)
    dl = index.doc_stats.select("doc_id", "doclen")
    rows = matches.join(grp, "doc_id").join(dl, "doc_id").select(by, "doclen")
    med = rows.groupBy(by).agg(
        F.expr("percentile(doclen, 0.5)").alias("med")
    )
    dev = rows.join(F.broadcast(med), by).select(
        by, F.abs(F.col("doclen") - F.col("med")).alias("adev")
    )
    return (
        dev.groupBy(by)
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.expr("percentile(adev, 0.5)"), 4).alias("mad"),
        )
        .orderBy(by)
    )


def facet_ranges(
    index, query: str, edges: tuple[int, ...] = (0, 24, 48, 96, 192),
    facts: list[str] | None = None,
) -> DataFrame:
    """Range/histogram aggregation over the match set (the Elasticsearch
    range-agg shape), bucketing body document length by ``edges``:
    buckets are [e0,e1), [e1,e2), ..., [e_last, ∞). Returns
    DataFrame[(bucket_lo, n_docs)] ordered by bucket_lo; empty buckets are
    absent (the ES default). One doc_id equi-join + one groupBy with
    map-side combine — scales with the match set like facet_counts."""
    matches = index.match(query, facts).select("doc_id")
    dl = index.doc_stats.select("doc_id", "doclen")
    rows = matches.join(dl, "doc_id")
    edges = tuple(sorted(int(e) for e in edges))
    # chained CASE, highest edge first: bucket_lo = largest edge <= doclen
    bucket = F.when(F.col("doclen") >= edges[-1], F.lit(edges[-1]))
    for lo in sorted(edges[:-1], reverse=True):
        bucket = bucket.when(F.col("doclen") >= lo, F.lit(lo))
    return (
        rows.select(bucket.alias("bucket_lo"))
        .filter(F.col("bucket_lo").isNotNull())
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket_lo")
    )


def histogram(
    index, query: str, interval: int = 32, facts: list[str] | None = None,
) -> DataFrame:
    """Fixed-interval histogram aggregation over the match set (the
    Elasticsearch histogram-agg shape) on body document length: bucket key
    = floor(doclen / interval) · interval. Returns DataFrame[(bucket,
    n_docs)] ordered by bucket; empty buckets absent (ES min_doc_count=1).
    Same scale shape as facet_ranges: one doc_id equi-join + one groupBy
    with map-side combine."""
    if interval <= 0:
        raise ValueError("interval must be positive")
    matches = index.match(query, facts).select("doc_id")
    dl = index.doc_stats.select("doc_id", "doclen")
    bucket = (F.floor(F.col("doclen") / interval) * interval).cast("long")
    return (
        matches.join(dl, "doc_id")
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket")
    )


def extended_stats(
    index, query: str, facts: list[str] | None = None,
) -> DataFrame:
    """Extended statistics over the match set (the Elasticsearch
    extended_stats-agg shape) on body document length: count, sum, min,
    max, avg, sum of squares, population variance, population std dev.

    Determinism: sum and sum_sq aggregate as exact int64 (doclen ≤ ~1e6 →
    sum of squares < 2^63 at any realistic match size), then avg/variance/
    std derive from those integers with a fixed float64 op order —
    var = sumsq/n − (sum/n)·(sum/n) — the same expression the SQL oracle
    uses, so results agree exactly (not just approximately) despite
    distributed partial aggregation. Rounded to 4 dp.

    Scale shape: one doc_id equi-join + ONE global agg (map-side partials;
    the shuffle carries one row per partition)."""
    matches = index.match(query, facts).select("doc_id")
    dl = index.doc_stats.select("doc_id", "doclen")
    agg = matches.join(dl, "doc_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("sum_doclen"),
        F.min("doclen").alias("min_doclen"),
        F.max("doclen").alias("max_doclen"),
        F.sum(F.col("doclen") * F.col("doclen")).alias("sum_sq"),
    )
    n = F.col("n_docs").cast("double")
    mean = F.col("sum_doclen").cast("double") / n
    var = F.col("sum_sq").cast("double") / n - mean * mean
    return agg.select(
        "n_docs", "sum_doclen", "min_doclen", "max_doclen", "sum_sq",
        F.round(mean, 4).alias("avg_doclen"),
        F.round(var, 4).alias("var_doclen"),
        F.round(F.sqrt(var), 4).alias("std_doclen"),
    )


def significant_terms(
    index, query: str, k: int = 20, min_fg_df: int = 2,
    facts: list[str] | None = None,
) -> DataFrame:
    """Terms over-represented in the match set vs the whole corpus (the
    Elasticsearch significant_terms shape; scoring = LIFT, the relative
    document-frequency ratio (fg_df/F)/(bg_df/N) — simpler than ES's JLH
    default, monotone in the same direction, exactly SQL-mirrorable).

    Returns DataFrame[(term, fg_df, bg_df, lift)] — top k by (lift desc,
    term asc), lift rounded 4 dp; query terms themselves are not excluded
    (they are the sanity check: they should rank high).

    Scale shape: semi-join the corpus down to the match set FIRST, then one
    tokenize+distinct pass over only the matched documents for foreground
    dfs; background dfs come from the already-built dictionary
    (term_stats), broadcast-joined when small. No collect, no window over
    more than the aggregated term table."""
    from bitfunnel_spark.functions.tokenizer import tokenize as tok

    matches = index.match(query, facts).select("doc_id")
    fg_docs = index.corpus.join(matches, "doc_id", "left_semi")
    fg = (
        fg_docs.select("doc_id", F.explode(tok("content")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("fg_df"))
        .filter(F.col("fg_df") >= int(min_fg_df))
    )
    n_matches = matches.count()  # one tiny scalar job; F in the lift ratio
    bg = index.term_stats.filter(F.col("stream") == "body").select(
        "term", F.col("df").alias("bg_df")
    )
    n_docs = float(index.n_docs)
    lift = F.round(
        (F.col("fg_df") / F.lit(float(n_matches))) / (F.col("bg_df") / F.lit(n_docs)),
        4,
    )
    return (
        fg.join(bg, "term")
        .select("term", "fg_df", F.col("bg_df").cast("long").alias("bg_df"), lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("term"))
        .limit(k)
    )


def sort_hits(
    index, query: str, by: str = "doclen", ascending: bool = False,
    k: int = 10, facts: list[str] | None = None,
) -> DataFrame:
    """Top-k of the match set ordered by a document field instead of
    relevance (the Elasticsearch ``sort`` clause; score is omitted, as ES
    omits _score under field sort). ``by`` is ``doclen`` (body token
    count, from the index's doc stats) or any corpus metadata column
    (lang, repo, path). Ties break doc_id asc.

    Returns DataFrame[(doc_id, <by>)] ordered (<by> asc|desc, doc_id asc),
    at most k rows.

    Scale shape: the match set joins ONE projected column, then a global
    top-k — Spark plans orderBy().limit(k) as TakeOrderedAndProject
    (per-partition k-row heaps, k·partitions rows to the driver-side
    merge), never a full sort. Same shape as the score top-k path.
    """
    matches = index.match(query, facts).select("doc_id")
    if by == "doclen":
        meta = index.doc_stats.select("doc_id", "doclen")
        rows = matches.join(meta, "doc_id", "left").fillna(0, subset=["doclen"])
    else:
        meta = index.corpus.select("doc_id", by)
        rows = matches.join(meta, "doc_id")
    direction = F.asc(by) if ascending else F.desc(by)
    return rows.select("doc_id", by).orderBy(direction, F.asc("doc_id")).limit(k)


_FSCORE_MODIFIERS = ("none", "log1p", "ln1p", "sqrt", "square")
_FSCORE_BOOST_MODES = ("multiply", "sum", "replace")


def function_score(
    index, query: str, field: str = "doclen", modifier: str = "log1p",
    factor: float = 1.0, boost_mode: str = "multiply", k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``function_score`` with a ``field_value_factor`` function: the
    BM25 score of every match combined with ``modifier(factor · field)``.

    ``field`` is ``doclen`` (body token count from the index doc stats,
    0 for docs with no body tokens) or any numeric corpus metadata column.
    ``modifier`` ∈ {none, log1p (log10(1+v), the ES default family),
    ln1p, sqrt, square}; ``boost_mode`` ∈ {multiply, sum, replace}.
    Returns DataFrame[(doc_id, score)] (4 dp, score desc, doc_id asc, ≤k).

    Applied over the FULL match set — never a rescore of a truncated
    top-k — so the ranking is exact (ES semantics: functions participate
    in scoring, not post-filtering).

    Scale shape: full-match scoring is the engine's existing scored-match
    plan; the function adds ONE narrow column join (doc stats / metadata
    projection) and a column expression, then the same global top-k
    (TakeOrderedAndProject). No new shuffle beyond the score path.
    """
    if modifier not in _FSCORE_MODIFIERS:
        raise ValueError(f"unknown modifier {modifier!r}")
    if boost_mode not in _FSCORE_BOOST_MODES:
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    from bitfunnel_spark.plans.executor import scored_matches

    scored = scored_matches(index, query, facts)
    if field == "doclen":
        meta = index.doc_stats.select(
            "doc_id", F.col("doclen").cast("double").alias("fv")
        )
        rows = scored.join(meta, "doc_id", "left").fillna(0.0, subset=["fv"])
    else:
        meta = index.corpus.select("doc_id", F.col(field).cast("double").alias("fv"))
        rows = scored.join(meta, "doc_id")
    v = F.lit(float(factor)) * F.col("fv")
    fn = {
        "none": v,
        "log1p": F.log10(v + F.lit(1.0)),
        "ln1p": F.log(v + F.lit(1.0)),
        "sqrt": F.sqrt(v),
        "square": v * v,
    }[modifier]
    combined = {
        "multiply": F.col("score") * fn,
        "sum": F.col("score") + fn,
        "replace": fn,
    }[boost_mode]
    return (
        rows.select("doc_id", F.round(combined, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def script_score(
    index, query, script: str, params: dict | None = None, k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``script_score``: replace every match's score with an arithmetic
    expression over ``_score`` (the BM25 relevance) and ``doclen`` (the
    per-doc numeric), plus literal ``params`` — the painless-lite subset
    (operators/pipeline_aggs.compile_script: + − · / %, comparisons,
    parentheses; saturation shapes like ``doclen / (doclen + params.p)``
    are expressible; anything else raises rather than mis-executing).

    Applied over the FULL match set (ES semantics: the script IS the
    score, not a rescore of a truncated window). Returns
    DataFrame[(doc_id, score)] (4 dp, score desc, doc_id asc, ≤k).

    Scale shape: the scored-match plan + one doc-stats column join + a
    codegen column expression + TakeOrderedAndProject — identical to
    function_score's audit row; the script never leaves the JVM."""
    from bitfunnel_spark.operators.pipeline_aggs import (
        PipelineError,
        compile_script,
    )
    from bitfunnel_spark.plans.executor import scored_matches

    scored = scored_matches(index, query, facts)
    dl = index.doc_stats.select(
        "doc_id", F.col("doclen").cast("double").alias("_doclen")
    )
    rows = scored.join(dl, "doc_id", "left").fillna(0.0, subset=["_doclen"])
    names = {"_score": "score", "doclen": "_doclen"}
    for name, val in (params or {}).items():
        if name in names:
            raise ValueError(f"param {name!r} shadows a built-in binding")
        col = f"_p_{name}"
        rows = rows.withColumn(col, F.lit(float(val)))
        names[name] = col
    try:
        expr = compile_script(script, names)
    except PipelineError as e:
        raise ValueError(str(e)) from e
    return (
        rows.select("doc_id", F.round(expr, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


_RANK_FEATURE_FNS = ("saturation", "log", "sigmoid")


def rank_feature(
    index, query, field: str = "doclen", fn: str = "saturation",
    pivot: float | None = None, exponent: float = 1.0,
    scaling_factor: float = 1.0, boost: float = 1.0, k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``rank_feature`` query: score docs by a static per-document
    numeric feature through a bounded monotone function —
    saturation f/(f+pivot), log ln(scaling_factor + f), or sigmoid
    f^exp/(f^exp + pivot^exp) — times ``boost``. ``field`` is ``doclen``
    (the engine's per-doc numeric, from doc stats) or a numeric corpus
    metadata column. ``query`` restricts to a match set; None scores the
    whole corpus (ES's standalone rank_feature matches every doc carrying
    the feature). ``pivot`` is required for saturation/sigmoid — ES
    derives a default from index stats; we refuse to guess silently.

    Returns DataFrame[(doc_id, score)] (4 dp, score desc, doc_id asc, ≤k).

    Scale shape: one narrow feature-column join (or a bare metadata scan
    for query=None) + a column expression + TakeOrderedAndProject — the
    feature is never recomputed per query (ES stores it the same way:
    rank_feature fields are indexed features)."""
    if fn not in _RANK_FEATURE_FNS:
        raise ValueError(f"rank_feature fn must be one of {_RANK_FEATURE_FNS}")
    if fn in ("saturation", "sigmoid") and (pivot is None or float(pivot) <= 0):
        raise ValueError(f"rank_feature {fn} needs a positive pivot")
    if field == "doclen":
        feats = index.doc_stats.select(
            "doc_id", F.col("doclen").cast("double").alias("fv")
        )
    else:
        feats = index.corpus.select(
            "doc_id", F.col(field).cast("double").alias("fv")
        )
    if query is not None:
        matches = index.match(query, facts).select("doc_id")
        feats = matches.join(feats, "doc_id", "left").fillna(0.0, subset=["fv"])
    else:
        # the standalone form scans doc stats directly — match() isn't in
        # the path to mask tombstones or apply the ambient doc
        # restriction (executor._matched does both), so do both here
        tomb = getattr(index, "tombstones", frozenset())
        if tomb:
            feats = feats.filter(
                ~F.col("doc_id").isin([int(d) for d in tomb])
            )
        amb = getattr(index, "_restrict_docs", None)
        if amb is not None:
            feats = feats.join(amb.select("doc_id"), "doc_id", "left_semi")
    v = F.col("fv")
    if fn == "saturation":
        expr = v / (v + F.lit(float(pivot)))
    elif fn == "log":
        expr = F.log(F.lit(float(scaling_factor)) + v)
    else:
        num = F.pow(v, F.lit(float(exponent)))
        expr = num / (num + F.lit(float(pivot) ** float(exponent)))
    return (
        feats.select(
            "doc_id", F.round(F.lit(float(boost)) * expr, 4).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def span_first(
    index, query: str, term: str, end: int, k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """Lucene ``SpanFirstQuery`` composed with a scoring query: top-k of
    ``query``'s BM25-scored match set restricted to documents whose FIRST
    body occurrence of ``term`` is within the first ``end`` tokens
    (0-based position < end — a single-term span ends before ``end``,
    SpanFirstQuery's contract). Returns DataFrame[(doc_id, score)]
    (4 dp, score desc, doc_id asc, ≤k).

    Scale shape: the position constraint costs ONE extra query term — a
    term-key-pushdown scan of the positional segments (same two IN-list
    filters every query term uses) decoding each posting's FIRST stored
    position only (it is stored absolute; no per-occurrence work), then a
    doc_id equi-join into the scored match set. Indexes without usable
    positions (positions=False build, or docs past the packed-position
    clamp) fall back to the exact corpus-derived expression, distributed
    (array_position over the tokenized body — same fallback policy as
    phrases, plans/kernel.use_positional_phrases).
    """
    from bitfunnel_spark.plans.executor import scored_matches
    from bitfunnel_spark.plans.kernel import _segment_filter, use_positional_phrases

    term = term.lower()
    end = int(end)
    scored = scored_matches(index, query, facts)
    if index.segments is not None and use_positional_phrases(index):
        import numpy as np
        import pandas as pd

        from bitfunnel_spark.operators.segments import decode_group_positions

        seg = index.segments.filter(_segment_filter(index, {("body", term)}))

        def first_docs(pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(pdf):
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
            d, t, p = decode_group_positions(pdf)
            if d.size == 0:
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
            starts = np.concatenate(([0], np.cumsum(t)[:-1]))
            return pd.DataFrame({"doc_id": d[p[starts] < end].astype("int64")})

        docs = seg.groupBy("shard", "slice").applyInPandas(first_docs, "doc_id long")
    else:
        ap = F.array_position(tokenize("content", _idx_analyzer(index)), F.lit(term))
        docs = index.corpus.where((ap >= 1) & (ap <= end)).select("doc_id")
    return (
        scored.join(docs, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def boosting_query(
    index, positive: str, negative: str, negative_boost: float = 0.5,
    k: int = 10, facts: list[str] | None = None,
) -> DataFrame:
    """ES ``boosting`` query: the ``positive`` query's BM25-scored match
    set, with documents that ALSO match ``negative`` demoted (score ×
    ``negative_boost``) rather than excluded — the soft complement of the
    ``-term`` NOT operator. Returns DataFrame[(doc_id, score)] (4 dp,
    score desc, doc_id asc, ≤k).

    Scale shape: the negative arm is a plain unscored match set (the
    engine's cheapest evaluation — no scoring work); it left-joins into
    the positive scored set on doc_id and the demotion is one fused
    conditional multiply, then the usual TakeOrderedAndProject top-k.
    """
    from bitfunnel_spark.plans.executor import scored_matches

    scored = scored_matches(index, positive, facts)
    neg = index.match(negative, facts).select(
        "doc_id", F.lit(True).alias("_neg")
    )
    demoted = F.when(
        F.col("_neg").isNotNull(),
        F.col("score") * F.lit(float(negative_boost)),
    ).otherwise(F.col("score"))
    return (
        scored.join(neg, "doc_id", "left")
        .select("doc_id", F.round(demoted, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def dis_max(
    index, clauses: list[str], tie_breaker: float = 0.0, k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """Lucene ``DisjunctionMaxQuery`` / ES ``dis_max``: a document matches
    if ANY clause matches, and scores as the BEST single clause score plus
    ``tie_breaker`` × the sum of the other matching clauses' scores
    (tie_breaker 0 = pure max, 1 = plain sum). Returns
    DataFrame[(doc_id, score)] (4 dp, score desc, doc_id asc, ≤k).

    Determinism: per-clause scores are the engine's rounded full-match
    scores; max and the left-associative fixed-clause-order sum make the
    combination order-independent of join/agg scheduling (mirrored exactly
    in the DuckDB oracle).

    Scale shape: each clause is the engine's standard scored-match plan
    (clause counts are small and fixed — the ES use is multi-field
    retrieval); clauses chain through full-outer doc_id joins (rank-bounded
    by nothing, but each side is a match set, and AQE picks the physical
    join from observed sizes), then one fused expression and the usual
    TakeOrderedAndProject.
    """
    if not clauses:
        raise ValueError("dis_max needs at least one clause")
    from bitfunnel_spark.plans.executor import scored_matches

    parts = [
        scored_matches(index, q, facts).select(
            "doc_id", F.col("score").alias(f"s{i}")
        )
        for i, q in enumerate(clauses)
    ]
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.join(p, "doc_id", "full")
    scols = [
        F.coalesce(F.col(f"s{i}"), F.lit(0.0)) for i in range(len(clauses))
    ]
    best = scols[0]
    for c in scols[1:]:
        best = F.greatest(best, c)
    total = scols[0]
    for c in scols[1:]:
        total = total + c
    score = best + F.lit(float(tie_breaker)) * (total - best)
    return (
        rows.select("doc_id", F.round(score, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _mm_field_clause(tokens: list[str], field: str, weight: float, operator: str) -> str:
    """One field's match clause in the engine's query language: body terms
    plain, other streams prefixed; every non-body term carries an explicit
    ^weight (a ^1 promotes the field key into scoring — field-weighted
    relevance, planner.strip_boosts)."""
    if field == "body":
        parts = [f"{t}^{weight:g}" if weight != 1.0 else t for t in tokens]
    else:
        parts = [f"{field}:{t}^{weight:g}" for t in tokens]
    if operator == "or" and len(parts) > 1:
        return "(" + " | ".join(parts) + ")"
    return " ".join(parts)


def multi_match_clauses(
    text: str, fields, operator: str = "or"
) -> list[str]:
    """Compile ES multi_match inputs into per-field engine query strings.
    ``fields`` entries may carry ^weights ("path^2"). Exposed separately so
    oracles derive from the SAME compilation as the engine."""
    import re

    from bitfunnel_spark.config import TOKEN_PATTERN

    tokens = re.findall(TOKEN_PATTERN, text.lower())
    if not tokens:
        raise ValueError("multi_match needs at least one token")
    if operator not in ("or", "and"):
        raise ValueError(f"unknown operator {operator!r}")
    clauses = []
    for spec in fields:
        field, _, w = str(spec).partition("^")
        weight = float(w) if w else 1.0
        clauses.append(_mm_field_clause(tokens, field, weight, operator))
    if not clauses:
        raise ValueError("multi_match needs at least one field")
    return clauses


def multi_match(
    index, text: str, fields=("body",), mm_type: str = "best_fields",
    tie_breaker: float = 0.0, operator: str = "or", k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``multi_match``: free text against several fields.

    - ``best_fields`` — dis_max over per-field clauses (+ tie_breaker),
    - ``most_fields`` — per-field scores SUM (dis_max with tie 1),
    - ``cross_fields`` — delegates to combined_fields/BM25F (term-centric:
      each token matches in any field, one saturation, blended idf).

    ``fields`` entries may carry ^weights ("path^2"). Compilation is pure
    query-language rewriting (multi_match_clauses), so matching/scoring
    ride the engine's existing paths and the oracle compiles identically.
    """
    if mm_type == "cross_fields":
        from bitfunnel_spark.plans.expand import combined_fields

        weights = {}
        for spec in fields:
            field, _, w = str(spec).partition("^")
            weights[field] = float(w) if w else 1.0
        joiner = " | " if operator == "or" else " "
        import re

        from bitfunnel_spark.config import TOKEN_PATTERN

        tokens = re.findall(TOKEN_PATTERN, text.lower())
        if not tokens:
            raise ValueError("multi_match needs at least one token")
        node = combined_fields(joiner.join(tokens), weights)
        return index.search(node, k=k, facts=facts)
    clauses = multi_match_clauses(text, fields, operator)
    if mm_type == "best_fields":
        return dis_max(index, clauses, tie_breaker=tie_breaker, k=k, facts=facts)
    if mm_type == "most_fields":
        return dis_max(index, clauses, tie_breaker=1.0, k=k, facts=facts)
    raise ValueError(f"unknown mm_type {mm_type!r}")


_RESCORE_MODES = ("total", "multiply", "avg", "max", "min")


def rescore(
    index, query: str, rescore_query: str, window_size: int = 100,
    query_weight: float = 1.0, rescore_weight: float = 1.0,
    score_mode: str = "total", k: int = 10,
    facts: list[str] | None = None, mode: str = "dataframe",
) -> DataFrame:
    """ES ``rescore`` (Lucene QueryRescorer): re-rank ONLY the top
    ``window_size`` docs of ``query`` by combining their primary score
    with ``rescore_query``'s score — mode total (qw·p + rw·s), multiply,
    avg, max, min; window docs NOT matching the rescore query keep
    qw·p (Lucene's contract). Returns DataFrame[(doc_id, score)]
    (4 dp, score desc, doc_id asc, ≤k).

    Scale shape: the window cut is the engine's standard top-k
    (TakeOrderedAndProject at window_size); the window — k-scale rows —
    then broadcast-joins the rescore arm's scored match set, so the
    expensive second query runs ONCE regardless of window size and the
    re-sort touches only window_size rows. ``mode`` picks the executor
    of the window cut (index.search's modes, rank-identical).
    """
    if score_mode not in _RESCORE_MODES:
        raise ValueError(f"unknown score_mode {score_mode!r}")
    from pyspark.sql.functions import broadcast

    from bitfunnel_spark.plans.executor import scored_matches

    win = index.search(query, k=int(window_size), mode=mode, facts=facts).select(
        "doc_id", F.col("score").alias("p")
    )
    sec = scored_matches(index, rescore_query, facts).select(
        "doc_id", F.col("score").alias("s")
    )
    qp = F.lit(float(query_weight)) * F.col("p")
    rs = F.lit(float(rescore_weight)) * F.col("s")
    matched = {
        "total": qp + rs,
        "multiply": qp * rs,
        "avg": (qp + rs) / F.lit(2.0),
        "max": F.greatest(qp, rs),
        "min": F.least(qp, rs),
    }[score_mode]
    combined = F.when(F.col("s").isNotNull(), matched).otherwise(qp)
    # Spark can't build the PRESERVED side of an outer hash join, so
    # `broadcast(win).join(sec, "left")` would silently fall back to
    # shuffling the full rescore match set. Two broadcast joins instead:
    # the inner join prunes `sec` to the window's doc_ids with `win` as
    # the (legal) inner build side — the big arm streams, never shuffles —
    # and the ≤window-row survivor frame broadcasts back as the (legal)
    # right side of the outer join.
    sec_win = sec.join(broadcast(win.select("doc_id")), "doc_id")
    return (
        win.join(broadcast(sec_win), "doc_id", "left")
        .select("doc_id", F.round(combined, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


_DECAY_KINDS = ("gauss", "exp", "linear")


def decay_score(
    index, query: str, origin: float, scale: float, field: str = "doclen",
    kind: str = "gauss", offset: float = 0.0, decay: float = 0.5,
    boost_mode: str = "multiply", k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``function_score`` decay functions (gauss | exp | linear) over a
    numeric document field: matches whose ``field`` sits at ``origin``
    keep their score; at distance ``scale`` (past ``offset``) the
    multiplier is ``decay``. Exact ES formulas (public docs):

        d      = max(0, |v - origin| - offset)
        gauss  = exp(-d² / (2σ²)),      σ² = -scale² / (2·ln(decay))
        exp    = exp(λ·d),              λ  = ln(decay) / scale
        linear = max(0, (s - d) / s),   s  = scale / (1 - decay)

    Returns DataFrame[(doc_id, score)] (4 dp, score desc, doc_id asc, ≤k).
    Same plan shape as function_score: the full-match scored set + one
    narrow-column join + a fused column expression + TakeOrderedAndProject.
    """
    if kind not in _DECAY_KINDS:
        raise ValueError(f"unknown decay kind {kind!r}")
    if boost_mode not in _FSCORE_BOOST_MODES:
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    import math

    from bitfunnel_spark.plans.executor import scored_matches

    scored = scored_matches(index, query, facts)
    if field == "doclen":
        meta = index.doc_stats.select(
            "doc_id", F.col("doclen").cast("double").alias("fv")
        )
        rows = scored.join(meta, "doc_id", "left").fillna(0.0, subset=["fv"])
    else:
        meta = index.corpus.select("doc_id", F.col(field).cast("double").alias("fv"))
        rows = scored.join(meta, "doc_id")
    d = F.greatest(
        F.lit(0.0), F.abs(F.col("fv") - F.lit(float(origin))) - F.lit(float(offset))
    )
    if kind == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * math.log(float(decay)))
        fn = F.exp(-(d * d) / F.lit(2.0 * sigma2))
    elif kind == "exp":
        lam = math.log(float(decay)) / float(scale)
        fn = F.exp(F.lit(lam) * d)
    else:
        s = float(scale) / (1.0 - float(decay))
        fn = F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))
    combined = {
        "multiply": F.col("score") * fn,
        "sum": F.col("score") + fn,
        "replace": fn,
    }[boost_mode]
    return (
        rows.select("doc_id", F.round(combined, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _pct_name(p: float) -> str:
    return "p" + (f"{p:g}".replace(".", "_"))


def facet_percentiles(
    index, query: str, by: str = "lang",
    percents: tuple[float, ...] = (25.0, 50.0, 75.0, 95.0),
    exact: bool = True, accuracy: int = 10000,
    facts: list[str] | None = None,
) -> DataFrame:
    """Per-facet doclen percentiles over a query's full match set (the
    Elasticsearch percentiles-under-terms aggregation). Returns
    DataFrame[(<by>, n_docs, p25, p50, ...)] ordered by facet value,
    percentile columns rounded to 4 dp.

    ``exact=True`` uses Spark's exact interpolated ``percentile`` (the
    oracle mode — DuckDB's quantile_cont computes the same continuous
    definition). The documented 100 TB path is ``exact=False`` →
    ``percentile_approx`` (Greenwald-Khanna sketch, ``accuracy`` knob):
    one pass, bounded sketch memory per bucket, sketches merge in the
    combiner — the same exact/approx split as facet_cardinality.

    Scale shape: match set → two doc_id equi-joins (facet value, doclen)
    → one map-side-combined groupBy; exact percentile buffers per-bucket
    values (fine while per-bucket match counts are modest), the approx
    sketch is constant-memory.
    """
    matches = index.match(query, facts).select("doc_id")
    grp = index.corpus.select("doc_id", by)
    dl = index.doc_stats.select("doc_id", "doclen")
    rows = matches.join(grp, "doc_id").join(dl, "doc_id")
    aggs = [F.count("*").alias("n_docs")]
    for p in percents:
        fn = (
            F.percentile("doclen", F.lit(p / 100.0))
            if exact
            else F.percentile_approx("doclen", F.lit(p / 100.0), F.lit(int(accuracy)))
        )
        aggs.append(F.round(fn.cast("double"), 4).alias(_pct_name(p)))
    return rows.groupBy(by).agg(*aggs).orderBy(by)


def facet_metrics(
    index, query: str, by: str = "lang",
    metrics: "list[tuple[str, str, dict]]" = (),
    facts: list[str] | None = None,
) -> DataFrame:
    """Several metric sub-aggregations under ONE terms bucket in ONE
    groupBy pass — the Kibana request shape ({stats, percentiles,
    cardinality, ...} under one bucket), which ES evaluates as one
    collector tree and Spark evaluates as one partial-agg exchange (every
    metric is another aggregate expression in the same groupBy; running
    the per-metric ops separately would scan the match set once per
    metric).

    ``metrics`` is [(name, kind, conf)] with kind ∈ avg/sum/min/max/
    value_count (field doclen), percentiles (``percents``), cardinality
    (``field``: a corpus metadata column). Output columns are
    ``{name}`` for scalar kinds, ``{name}_p50``-style for percentiles —
    plus the implicit n_docs. Always exact (the oracle mode); the
    approx variants live on the dedicated per-kind ops."""
    matches = index.match(query, facts).select("doc_id")
    grp = index.corpus.select("doc_id", by)
    dl = index.doc_stats.select("doc_id", "doclen")
    cols: set[str] = set()
    for _name, kind, conf in metrics:
        if kind == "cardinality":
            field = conf.get("field")
            if field not in ("lang", "repo", "path"):
                raise ValueError(
                    f"cardinality field must be metadata, got {field!r}"
                )
            if field != by:  # the bucket column is already in the frame
                cols.add(str(field))
    rows = matches.join(grp, "doc_id").join(dl, "doc_id")
    if cols:
        extra = index.corpus.select("doc_id", *sorted(cols))
        rows = rows.join(extra, "doc_id")
    aggs = [F.count("*").alias("n_docs")]
    scalar = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
              "value_count": F.count}
    for name, kind, conf in metrics:
        conf = dict(conf)
        if kind in scalar:
            field = conf.pop("field", "doclen")
            if field != "doclen":
                raise ValueError(f"{kind} supports field='doclen', got {field!r}")
            col = scalar[kind]("doclen")
            if kind in ("avg",):
                col = F.round(col, 4)
            aggs.append(col.alias(name))
        elif kind == "percentiles":
            if conf.pop("field", "doclen") != "doclen":
                raise ValueError("percentiles supports field='doclen'")
            for p in tuple(float(x) for x in conf.pop("percents", (50.0,))):
                aggs.append(
                    F.round(
                        F.percentile("doclen", F.lit(p / 100.0)).cast("double"), 4
                    ).alias(f"{name}_{_pct_name(p)}")
                )
        elif kind == "cardinality":
            field = conf.pop("field", None)
            if field not in ("lang", "repo", "path"):
                raise ValueError(f"cardinality field must be metadata, got {field!r}")
            aggs.append(F.countDistinct(field).alias(name))
        else:
            raise ValueError(f"unsupported facet metric kind {kind!r}")
        if conf:
            raise ValueError(f"unsupported {kind} options: {sorted(conf)}")
    return rows.groupBy(by).agg(*aggs).orderBy(by)


def facet_cardinality(
    index, query: str, by: str = "lang", of: str = "repo",
    exact: bool = True, rsd: float = 0.05,
    facts: list[str] | None = None,
) -> DataFrame:
    """Per-bucket distinct-value counts over the match set (the
    Elasticsearch ``cardinality`` sub-aggregation under a terms agg): for
    every ``by``-facet value, the number of matching docs and the number
    of distinct ``of``-values among them.

    Returns DataFrame[(<by>, n_docs, cardinality)] ordered by the facet
    value. ``exact=True`` (default, the oracle-checkable mode) uses
    count_distinct — Spark plans it as a two-phase partial-distinct agg
    (distinct locally per partition before the shuffle). ``exact=False``
    is the scale path: approx_count_distinct (HyperLogLog++, relative
    error ``rsd``) — one pass, constant memory per bucket, the same
    sketch ES's cardinality agg uses; use it when ``of`` is
    high-cardinality at 100 TB.
    """
    matches = index.match(query, facts).select("doc_id")
    meta = index.corpus.select("doc_id", by, of)
    rows = matches.join(meta, "doc_id")
    card = (
        F.count_distinct(F.col(of))
        if exact
        else F.approx_count_distinct(F.col(of), float(rsd))
    )
    return (
        rows.groupBy(by)
        .agg(F.count("*").alias("n_docs"), card.alias("cardinality"))
        .orderBy(by)
    )


def top_hits(
    index, query: str, by: str = "lang", per_group: int = 3,
    facts: list[str] | None = None,
) -> DataFrame:
    """Per-bucket top hits (the Elasticsearch ``top_hits`` sub-aggregation
    under a terms agg): EVERY ``by``-facet value present in the match set,
    with its total matching-doc count and its best ``per_group`` documents
    by (score desc, doc_id asc).

    Differs from ``collapse_topk``: collapse returns one GLOBAL top-k with
    a per-group cap; top_hits returns every bucket, ES's "show me the best
    examples inside each facet" shape.

    Returns DataFrame[(<by>, n_docs, hit_rank, doc_id, score)] ordered
    (n_docs desc, <by> asc, hit_rank asc); scores rounded 4 dp.

    Scale shape: the scored match set joins the metadata projection once,
    then ONE shuffle keyed by ``by`` serves both sides — the bucket counts
    (map-side partial agg) and the per-bucket rank window, whose
    ``hit_rank <= per_group`` filter Spark pushes into the sort via
    WindowGroupLimit (each task keeps per_group rows per bucket before the
    exchange). The counts side is #buckets rows — broadcast back into the
    hits. No collect; a mega-bucket costs one task's sort, bounded by the
    group-limit pushdown.
    """
    from bitfunnel_spark.plans.executor import _matched

    plan = plan_query(index.prepare_query(query))
    scored = _matched(index, plan, facts).select(
        "doc_id", F.round(F.col("score"), 4).alias("score")
    )
    meta = index.corpus.select("doc_id", by)
    rows = scored.join(meta, "doc_id")
    counts = rows.groupBy(by).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy(by).orderBy(F.desc("score"), F.asc("doc_id"))
    hits = rows.withColumn("hit_rank", F.row_number().over(w)).filter(
        F.col("hit_rank") <= int(per_group)
    )
    return (
        hits.join(F.broadcast(counts), by)
        .select(by, "n_docs", "hit_rank", "doc_id", "score")
        .orderBy(F.desc("n_docs"), F.asc(by), F.asc("hit_rank"))
    )


def collapse_topk(
    index, query: str, by: str = "repo", k: int = 10, per_group: int = 1,
    facts: list[str] | None = None,
) -> DataFrame:
    """Top-k results collapsed to the best ``per_group`` documents per
    ``by``-field value (Lucene/Solr field collapsing / result grouping).

    Best-in-group = (score desc, doc_id asc) over the query's FULL scored
    match set — a group whose docs flood the raw top-k cannot crowd out
    other groups. Returns DataFrame[(doc_id, score, <by>)] ordered
    (score desc, doc_id asc), at most ``k`` rows.

    Scale shape: scoring reuses the executor's match surface (one job);
    the collapse for ``per_group=1`` is a plain groupBy(``by``).max_by —
    map-side partial aggregation, so a mega-group (one repo matching
    everything) combines locally and never skews the shuffle. ``per_group
    > 1`` uses a window (rank over the group) — still one shuffle keyed by
    ``by``.
    """
    from bitfunnel_spark.plans.executor import _matched

    plan = plan_query(index.prepare_query(query))
    scored = _matched(index, plan, facts).select(
        "doc_id", F.round(F.col("score"), 4).alias("score")
    )
    meta = index.corpus.select("doc_id", by)
    rows = scored.join(meta, "doc_id")
    if per_group == 1:
        # lexicographic max of (score, -doc_id) == best by (score desc, doc asc)
        best = rows.groupBy(by).agg(
            F.max_by(
                F.struct("doc_id", "score"),
                F.struct(F.col("score"), (-F.col("doc_id")).alias("nd")),
            ).alias("best")
        )
        out = best.select("best.doc_id", "best.score", by)
    else:
        from pyspark.sql import Window

        w = Window.partitionBy(by).orderBy(F.desc("score"), F.asc("doc_id"))
        out = (
            rows.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(per_group))
            .select("doc_id", "score", by)
        )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def term_vector(index, doc_id: int) -> DataFrame:
    """A document's term vector (the Lucene/ES termvectors endpoint
    shape): every (stream, term, tf) the document was indexed with,
    ordered (stream, term). One doc_id-pruned posting scan — on a
    persisted index the predicate pushes into the parquet row-group
    stats, so this is a point lookup."""
    return (
        index.postings.filter(F.col("doc_id") == int(doc_id))
        .select("stream", "term", "tf")
        .orderBy("stream", "term")
    )


def mterm_vectors(index, doc_ids: list[int]) -> DataFrame:
    """Batch term vectors (the ES _mtermvectors endpoint): every
    (doc_id, stream, term, tf) for the requested documents in ONE
    doc_id-IN-pruned posting scan (row-group stats pushdown on a
    persisted index — |doc_ids| point lookups in one job, no per-doc
    job floor). Ordered (doc_id, stream, term)."""
    ids = [int(d) for d in doc_ids]
    return (
        index.postings.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "stream", "term", "tf")
        .orderBy("doc_id", "stream", "term")
    )


def mget(
    index, doc_ids: list[int],
    source: tuple[str, ...] = ("repo", "path", "lang"),
) -> DataFrame:
    """ES ``_mget``: fetch documents by id with a ``found`` flag per
    request — missing and soft-deleted ids report ``found = false`` with
    null fields (ES's own behavior for absent docs; a tombstoned doc is
    absent from the live index by contract). Results come back in
    REQUEST order, ES's contract for _mget.

    Returns DataFrame[(doc_id, found, *source)].

    Scale shape: the request ships as a tiny broadcast frame; the corpus
    side is ONE doc_id-IN-pruned scan (parquet row-group stats pushdown
    on a persisted corpus — |doc_ids| point lookups in one job, no
    per-doc job floor), left-joined so absent ids surface as rows, not
    silences. No shuffle of anything corpus-sized.
    """
    if not doc_ids:
        raise ValueError("_mget needs at least one doc id")
    bad = [c for c in source
           if c not in ("repo", "path", "commit", "lang", "content",
                        "content_sha256")]
    if bad:
        raise ValueError(f"unknown _mget source fields: {bad}")
    ids = [int(d) for d in doc_ids]
    req = index.spark.createDataFrame(
        [(d, i) for i, d in enumerate(ids)], "doc_id long, _pos long"
    )
    live = index.corpus.filter(F.col("doc_id").isin(ids)).select(
        "doc_id", *source
    )
    tomb = getattr(index, "tombstones", frozenset())
    if tomb:
        live = live.filter(~F.col("doc_id").isin([int(d) for d in tomb]))
    live = live.withColumn("_found", F.lit(True))
    # broadcast the PRUNED corpus side: Spark cannot build the preserved
    # (left) side of an outer hash join, so a hint there would silently
    # fall back to a shuffle (the rescore comment documents the same
    # pitfall); `live` is already <= |doc_ids| rows
    return (
        req.join(F.broadcast(live), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_found"), F.lit(False)).alias("found"),
            *source, "_pos",
        )
        .orderBy("_pos")
        .drop("_pos")
    )


def terms_enum(
    index, string: str, size: int = 10, field: str = "body",
    case_insensitive: bool = False,
) -> DataFrame:
    """ES ``_terms_enum`` API analogue: up to ``size`` dictionary terms in
    ``field`` (an indexed stream: body/path/lang/repo) starting with
    ``string``, in index (ascending lexicographic) order — the typeahead /
    keyword-discovery endpoint. Like ES, this enumerates the INDEX
    dictionary, so terms contributed solely by soft-deleted documents may
    appear (ES documents the same caveat for deleted-but-unmerged docs).

    Returns DataFrame[(term,)] ordered term asc, at most ``size`` rows.

    Scale shape: one dictionary scan; the prefix predicate compiles to
    ``StartsWith``, which parquet pushes as a min/max range filter over
    the term column (dictionary row groups are term-sorted on the
    persisted layout), then TakeOrdered for the limit. Case-insensitive
    mode wraps the column in lower() — a full dictionary scan, still one
    narrow column, no shuffle beyond the top-k. The dictionary is
    ~vocabulary-sized, orders of magnitude smaller than postings, so even
    the unpruned scan is cheap at 10^12-doc scale.
    """
    if field not in ("body", "path", "lang", "repo"):
        raise ValueError(f"terms_enum field must be an indexed stream, got {field!r}")
    ts = index.term_stats.filter(F.col("stream") == field)
    if case_insensitive:
        pred = F.lower(F.col("term")).startswith(string.lower())
    else:
        pred = F.col("term").startswith(string)
    return ts.filter(pred).select("term").orderBy(F.asc("term")).limit(int(size))


def explain(
    index, query: str, k: int = 10, mode: str = "kernel",
    facts: list[str] | None = None,
) -> DataFrame:
    """Per-term score breakdown of the top-k (Lucene
    IndexSearcher.explain shape): one row per (result doc, scoring key
    present in it) with the term's tf, effective idf, and BM25
    contribution — sum of a doc's contributions is its score.

    Returns DataFrame[(doc_id, score, stream, term, tf, contribution)]
    ordered (score desc, doc_id asc, stream, term); contribution rounded
    to 4 dp. The contribution expression is the DataFrame executor's
    (plans/executor._hits) verbatim, so explain always reconciles with
    the ranking it explains.

    Scale shape: one key-pruned posting scan restricted to the k result
    docs by a broadcast semi-join — touches O(k · |query terms|) rows.
    """
    res = index.search(query, k=k, mode=mode, facts=facts)
    plan = plan_query(index.prepare_query(query))
    keys = sorted(f"{s}:{t}" for s, t in plan.scoring_keys)
    key_col = F.concat_ws(":", F.col("stream"), F.col("term"))
    p = index.postings.withColumn("key", key_col).filter(F.col("key").isin(keys))
    ts = index.term_stats.withColumn("key", key_col).filter(F.col("key").isin(keys))
    bm = index.config.bm25
    joined = p.join(F.broadcast(ts.select("key", "idf")), "key", "left")
    norm = bm.k1 * (1.0 - bm.b + bm.b * F.col("doclen") / F.lit(index.avgdl))
    partial = F.col("tf") * (bm.k1 + 1.0) / (F.col("tf") + norm)
    eff_idf = F.coalesce(F.col("idf"), F.lit(0.0))
    if plan.boosts:
        boost = F.lit(1.0)
        for (s, t), b in sorted(plan.boosts.items()):
            boost = F.when(
                F.col("key") == F.lit(f"{s}:{t}"), F.lit(float(b))
            ).otherwise(boost)
        eff_idf = eff_idf * boost
    return (
        joined.join(F.broadcast(res), "doc_id")
        .select(
            "doc_id",
            "score",
            "stream",
            "term",
            "tf",
            F.round(eff_idf * partial, 4).alias("contribution"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"), "stream", "term")
    )


def hybrid_search(
    index, emb: DataFrame, query: str, query_vec_id: int, k: int = 10,
    k_each: int = 20, rrf_k: int = 60, mode: str = "kernel",
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid lexical + vector retrieval fused with reciprocal-rank fusion
    (RRF — the published Cormack/Clarke/Buettcher fusion every hybrid
    search deployment uses): the BM25 top-``k_each`` for ``query`` and the
    exact-cosine top-``k_each`` neighbors of ``query_vec_id``'s embedding,
    fused as rrf = Σ_lists 1/(rrf_k + rank).

    Returns DataFrame[(doc_id, rrf, bm25_rank, cos_rank)] ordered
    (rrf desc, doc_id asc), at most ``k`` rows; a doc absent from one list
    has a NULL rank there. Embedding ids are document ids.

    Scale shape: both arms are the engine's existing top-k paths (block-max
    kernel; broadcast-query cosine scan); the fusion is a full outer join
    of two ≤k_each-row frames — trivially broadcastable.
    """
    from bitfunnel_spark.operators.similarity import brute_cosine_topk

    bm = index.search(query, k=k_each, mode=mode)
    w1 = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm = bm.select("doc_id", F.row_number().over(w1).alias("bm25_rank"))
    cs = brute_cosine_topk(emb, [int(query_vec_id)], k=k_each,
                           vec_col=vec_col, id_col=id_col)
    w2 = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    cs = cs.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(w2).alias("cos_rank")
    )
    fused = bm.join(cs, "doc_id", "full_outer")
    contrib = lambda r: F.coalesce(1.0 / (F.lit(float(rrf_k)) + F.col(r)), F.lit(0.0))  # noqa: E731
    return (
        fused.select(
            "doc_id",
            F.round(contrib("bm25_rank") + contrib("cos_rank"), 6).alias("rrf"),
            "bm25_rank",
            "cos_rank",
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this(
    index, doc_id: int, k: int = 10, m: int = 8, mode: str = "kernel",
) -> DataFrame:
    """Top-k documents most similar to ``doc_id`` (Lucene MoreLikeThis
    shape): select the source document's ``m`` most distinctive body terms
    by tf·idf (ties by term asc), then BM25-score their OR query through
    the normal engine path, excluding the source document.

    Returns DataFrame[(doc_id, score)] ordered (score desc, doc_id asc).
    """
    rows = (
        index.corpus.filter(F.col("doc_id") == int(doc_id))
        .select(tokenize("content", _idx_analyzer(index)).alias("tk"))
        .collect()
    )
    tokens = rows[0]["tk"] if rows else []
    tf = Counter(tokens)
    idf = index.idf_for_terms({("body", t) for t in tf})
    ranked = sorted(
        ((tf[t] * idf[t], t) for t in tf if t in idf), key=lambda x: (-x[0], x[1])
    )
    selected = [t for _, t in ranked[:m]]
    if not selected:
        schema = "doc_id long, score double"
        return index.spark.createDataFrame([], schema)
    res = index.search(" | ".join(selected), k=k + 1, mode=mode)
    return (
        res.filter(F.col("doc_id") != int(doc_id))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


def _filter_names_df(index, filters: dict[str, str]):
    names = sorted(filters)
    name_df = index.spark.createDataFrame(
        list(enumerate(names)), "query_id int, name string"
    )
    return names, name_df


def filters_agg(
    index, filters: dict[str, str], facts: list[str] | None = None,
) -> DataFrame:
    """ES ``filters`` aggregation: one bucket per named query, counted over
    the whole corpus in ONE job. Returns DataFrame[(name, n_docs)] ordered
    by name; every named bucket is present (count 0 when empty — the ES
    keyed-buckets shape).

    Scale shape: the entire filter set evaluates as one ``match_many``
    batched-kernel job (queries-as-data, shared block cache — no per-filter
    job floor), counts are a map-side partial agg on query_id (a handful of
    groups), and the post-agg count table (≤ |filters| rows) broadcasts
    back onto the tiny name table. Nothing here grows with the corpus
    except the one shared match job.
    """
    from bitfunnel_spark.plans.batch import match_many

    names, name_df = _filter_names_df(index, filters)
    m = match_many(index, [filters[n] for n in names], facts)
    counts = m.groupBy("query_id").agg(F.count("*").alias("n"))
    return (
        name_df.join(F.broadcast(counts), "query_id", "left")
        .select(
            "name", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_docs")
        )
        .orderBy("name")
    )


def adjacency_matrix(
    index, filters: dict[str, str], facts: list[str] | None = None,
) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: for every pair of named queries
    (including the diagonal), the number of documents matching BOTH.
    Returns DataFrame[(a, b, n_docs)] for a <= b, only non-empty buckets
    (the ES contract), ordered (a, b).

    Scale shape: one ``match_many`` job produces every filter's match set;
    the pair counts are a self-equi-join on doc_id (each doc expands to
    F^2 pairs where F = filters matching THAT doc — bounded by the filter
    count, not the corpus) followed by a partial-agg groupBy on the
    |filters|^2-row key space.
    """
    from bitfunnel_spark.plans.batch import match_many

    names, name_df = _filter_names_df(index, filters)
    m = match_many(index, [filters[n] for n in names], facts)
    named = m.join(F.broadcast(name_df), "query_id").select("name", "doc_id")
    a, b = named.alias("a"), named.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.name") <= F.col("b.name")),
    )
    return (
        pairs.groupBy(F.col("a.name").alias("a"), F.col("b.name").alias("b"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("a", "b")
    )


def matched_queries(
    index, query: str, named: dict[str, str], k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``matched_queries`` per-hit annotation: the main query's BM25
    top-k, each hit carrying the sorted list of named clauses it also
    matches. Returns DataFrame[(doc_id, score, matched array<string>)]
    ordered (score desc, doc_id asc); ``matched`` is [] when none apply.

    Scale shape: the main query runs the normal top-k path; the named
    clauses evaluate in ONE ``match_many`` job whose output is immediately
    semi-joined against the broadcast k-row result (so only k·|named| rows
    survive to the collect_list agg), and the k-row annotation table
    broadcasts back onto the result. Annotation cost is one shared batch
    job regardless of how many clauses are registered.
    """
    from bitfunnel_spark.plans.batch import match_many

    names, name_df = _filter_names_df(index, named)
    topk = index.search(query, k, facts=facts)
    m = match_many(index, [named[n] for n in names], facts).join(
        F.broadcast(name_df), "query_id"
    )
    ann = (
        m.join(F.broadcast(topk.select("doc_id")), "doc_id")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("name")).alias("matched"))
    )
    return (
        topk.join(F.broadcast(ann), "doc_id", "left")
        .select(
            "doc_id",
            "score",
            F.coalesce(F.col("matched"), F.array().cast("array<string>")).alias(
                "matched"
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def composite_agg(
    index, query: str, by: tuple[str, ...] = ("lang", "repo"),
    size: int = 10, after: tuple | None = None,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``composite`` aggregation: multi-source buckets over the match
    set, paginated by after-key — THE way to export every bucket of a
    high-cardinality agg without a deep window. Returns
    DataFrame[(*by, n_docs)] ordered by the bucket key tuple ascending,
    starting strictly after ``after`` (a tuple matching ``by``), ≤ size
    rows; the caller passes the last row's key as the next ``after``.

    Scale shape: one doc_id equi-join (match set × metadata projection) +
    one partial-agg groupBy; the after-key filter is a plain predicate
    pushed below the agg's shuffle, and each page is TopK-by-key (limit
    over a sort on the grouped output, never a global window over all
    buckets). Page cost is independent of how many pages precede it.
    """
    matches = index.match(query, facts).select("doc_id")
    meta = index.corpus.select("doc_id", *by)
    g = meta.join(matches, "doc_id")
    if after is not None:
        if len(after) != len(by):
            raise ValueError("after key must match `by` arity")
        cond = None
        for i in range(len(by)):
            eq = None
            for j in range(i):
                e = F.col(by[j]) == F.lit(after[j])
                eq = e if eq is None else (eq & e)
            gt = F.col(by[i]) > F.lit(after[i])
            c = gt if eq is None else (eq & gt)
            cond = c if cond is None else (cond | c)
        g = g.filter(cond)
    return (
        g.groupBy(*by)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(*by)
        .limit(size)
    )


def random_score(
    index, query: str, seed: int = 17, k: int = 10,
    facts: list[str] | None = None, boost_mode: str = "replace",
) -> DataFrame:
    """ES ``function_score`` random_score with seed + field: a
    deterministic pseudo-random factor per (seed, document) (uniform
    sampling of matching docs — ES hashes the seed with a per-doc field
    exactly so results are reproducible). hash = (((doc_id + seed) mod
    2^31) · 1103515245 + 12345) mod 2^31 — the seed shifts the
    MULTIPLICAND, so different seeds give genuinely different orderings
    (an additive post-multiply seed would only rotate the hash space);
    all int64-safe at any doc_id. factor = hash / 2^31 rounded 6 dp.

    ``boost_mode`` combines the factor with the BM25 score: ``replace``
    (the default here — the pure-sampling contract this function has
    always had, and what the DuckDB oracle certifies), ``multiply`` (ES's
    function_score default), or ``sum``. Returns
    DataFrame[(doc_id, score)] ordered (score desc, doc_id asc), ≤ k.

    Scale shape: the hash is one fused integer expression on the match
    set; top-k is the usual TakeOrderedAndProject. Zero extra scans or
    shuffles over a plain match (replace) / a plain scored match
    (multiply, sum).
    """
    if boost_mode not in _FSCORE_BOOST_MODES:
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    # normalize the seed driver-side: Spark's % follows the dividend sign,
    # so a negative seed would push small doc_ids to a NEGATIVE factor,
    # breaking the [0, 1) contract (and flipping multiply-mode rankings).
    # Python's % is non-negative, and doc_id >= 0, so after this the whole
    # expression stays in [0, 2^31) in every engine.
    seed = int(seed) % 2147483648
    m = F.lit(2147483648)
    h = (((F.col("doc_id") + F.lit(int(seed))) % m) * F.lit(1103515245) + F.lit(12345)) % m
    fn = F.round(h.cast("double") / m.cast("double"), 6)
    if boost_mode == "replace":
        rows = index.match(query, facts).select("doc_id")
        combined = fn
    else:
        from bitfunnel_spark.plans.executor import scored_matches

        rows = scored_matches(index, query, facts)
        combined = (
            F.col("score") * fn if boost_mode == "multiply"
            else F.col("score") + fn
        )
    return (
        rows.select(
            "doc_id", F.round(combined, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _near_offset_vectors(n: int, slop: int) -> list[tuple[int, ...]]:
    """Every position pattern an UNORDERED span_near allows: n DISTINCT
    offsets containing 0 with max <= (n-1)+slop, assigned to the terms in
    every order. Any occurrence tuple with span max(p)-min(p) <=
    (n-1)+slop normalizes (subtract min) to exactly one such vector, so
    the enumeration is exact. C((n-1)+slop, n-1)·n! patterns, capped like
    the ordered sloppy-phrase enumeration."""
    from itertools import combinations, permutations
    from math import comb, factorial

    from bitfunnel_spark.plans.kernel import MAX_SLOP_PATTERNS

    count = comb(n - 1 + slop, n - 1) * factorial(n)
    if count > MAX_SLOP_PATTERNS:
        raise ValueError(
            f"span_near slop {slop} over {n} terms needs {count} patterns "
            f"(max {MAX_SLOP_PATTERNS})"
        )
    out: list[tuple[int, ...]] = []
    for c in combinations(range(1, n + slop), n - 1):
        out.extend(permutations((0, *c)))
    return out


def span_near(
    index, terms: list[str], slop: int = 0, k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """Lucene ``SpanNearQuery`` with in_order=false: top-k of the
    all-terms AND query's BM25-scored match set restricted to documents
    where one occurrence of EACH term fits in a window of span
    max(p)-min(p) <= (n-1)+slop, in ANY order (the unordered complement
    of the ordered ``"a b"~slop`` sloppy phrase). Returns
    DataFrame[(doc_id, score)] (4 dp, score desc, doc_id asc, ≤k).

    Each ``terms`` slot may be a single token or a LIST of alternatives
    (Lucene ``span_or`` inside the near — a slot is filled by an
    occurrence of ANY of its alternatives): per slot the occurrence
    stream is the union of its alternatives' positional postings, and
    the scoring query becomes the AND of per-slot OR groups. Tokens must
    be distinct across all slots.

    Scale shape: scoring is the normal AND-query path; the span
    constraint decodes the terms' positional postings per (shard, slice)
    group — the same two-IN-list pushdown scan every query term uses —
    and evaluates as packed (doc << POS_BITS | start)-key intersections
    per allowed offset vector (the sloppy-phrase kernel generalized to
    unordered assignments; positions decode ONCE per term and are reused
    across patterns — slot alternation adds alternatives' postings to a
    slot's stream, never more patterns). Indexes without usable positions
    fall back to an exact distributed smallest-window check over the
    tokenized corpus (Arrow-batched; same fallback policy as phrases).
    """
    from bitfunnel_spark.plans.executor import scored_matches
    from bitfunnel_spark.plans.kernel import (
        POS_BITS,
        _segment_filter,
        use_positional_phrases,
    )

    slots = [[x.lower() for x in t] if isinstance(t, (list, tuple))
             else [t.lower()] for t in terms]
    if any(not s for s in slots):
        raise ValueError("span_near slot with no alternatives")
    toks = [t for s in slots for t in s]
    n = len(slots)
    if n < 2:
        raise ValueError("span_near needs at least two slots")
    if len(set(toks)) != len(toks):
        raise ValueError("span_near tokens must be distinct across slots")
    patterns = _near_offset_vectors(n, int(slop))
    scored = scored_matches(
        index,
        " & ".join(s[0] if len(s) == 1 else "(" + " | ".join(s) + ")"
                   for s in slots),
        facts,
    )
    import numpy as np
    import pandas as pd

    if index.segments is not None and use_positional_phrases(index):
        from bitfunnel_spark.operators.segments import (
            _term_key_py,
            decode_group_positions,
        )

        key_to_idx = {
            _term_key_py("body", t): i for i, s in enumerate(slots) for t in s
        }
        off = max(16, n + int(slop))
        lim = np.int64(1) << np.int64(POS_BITS)
        seg = index.segments.filter(
            _segment_filter(index, {("body", t) for t in toks})
        )

        def near_docs(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
            if not len(pdf):
                return empty
            acc: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {}
            for key, rows in pdf.groupby("term_key"):
                i = key_to_idx.get(int(key))
                if i is None:
                    continue
                d, t, p = decode_group_positions(rows)
                if d.size:
                    acc.setdefault(i, []).append(
                        (np.repeat(d, t).astype(np.int64), p.astype(np.int64))
                    )
            if len(acc) != n:
                return empty
            # a slot's occurrence stream is the UNION of its alternatives'
            # postings (span_or-in-near); single-token slots concatenate one
            occ = {
                i: (np.concatenate([d for d, _ in parts]),
                    np.concatenate([p for _, p in parts]))
                for i, parts in acc.items()
            }
            packed = []
            for offsets in patterns:
                keys = None
                for i in range(n):
                    docs_i, p_i = occ[i]
                    shifted = p_i - offsets[i] + off
                    ok = shifted < lim
                    kk = (docs_i[ok] << np.int64(POS_BITS)) + shifted[ok]
                    keys = kk if keys is None else keys[np.isin(keys, kk)]
                    if keys.size == 0:
                        keys = None
                        break
                if keys is not None:
                    packed.append(keys >> np.int64(POS_BITS))
            if not packed:
                return empty
            return pd.DataFrame(
                {"doc_id": np.unique(np.concatenate(packed)).astype("int64")}
            )

        docs = seg.groupBy("shard", "slice").applyInPandas(near_docs, "doc_id long")
    else:
        span = n - 1 + int(slop)
        tok_to_idx = {t: i for i, s in enumerate(slots) for t in s}
        tk = index.corpus.select("doc_id", tokenize("content", _idx_analyzer(index)).alias("tk"))

        def check(batches):
            for pdf in batches:
                keep = []
                for doc, arr in zip(pdf["doc_id"], pdf["tk"]):
                    occs = [
                        (p, tok_to_idx[t])
                        for p, t in enumerate(arr)
                        if t in tok_to_idx
                    ]
                    # two-pointer smallest window containing every term
                    need, have, cnt, lo, hit = n, 0, [0] * n, 0, False
                    for hi, (p, i) in enumerate(occs):
                        cnt[i] += 1
                        if cnt[i] == 1:
                            have += 1
                        while have == need:
                            if p - occs[lo][0] <= span:
                                hit = True
                                break
                            cnt[occs[lo][1]] -= 1
                            if cnt[occs[lo][1]] == 0:
                                have -= 1
                            lo += 1
                        if hit:
                            break
                    if hit:
                        keep.append(doc)
                yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

        docs = tk.mapInPandas(check, "doc_id long")
    return (
        scored.join(docs, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def span_not(
    index, include: list[str], exclude: str,
    pre: int = 0, post: int = 0, k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """Lucene ``SpanNotQuery``: top-k of the include-terms AND query's
    BM25-scored match set restricted to documents with at least one
    occurrence of the ``include`` phrase (adjacent, in order; length 1 =
    a single term) whose window — ``pre`` tokens before its start through
    ``post`` tokens after its end — contains NO occurrence of ``exclude``.
    A document containing the phrase but no nearby exclusion survives;
    position-level negation, strictly finer than boolean ``-exclude``.

    Scale shape: same as span_near — scoring is the normal AND path; the
    positional check decodes include+exclude postings once per
    (shard, slice) group, intersects packed (doc,pos) keys for the phrase
    starts, then kills starts via pre+len+post shifted isin passes against
    the exclude positions. Fallback without positions: exact Arrow-batched
    corpus scan (same policy as phrases).
    """
    import numpy as np
    import pandas as pd

    from bitfunnel_spark.plans.executor import scored_matches
    from bitfunnel_spark.plans.kernel import (
        MAX_SLOP_PATTERNS,
        POS_BITS,
        _segment_filter,
        use_positional_phrases,
    )

    toks = [t.lower() for t in include]
    excl = exclude.lower()
    n = len(toks)
    if n < 1:
        raise ValueError("span_not needs at least one include term")
    if len(set(toks)) != n:
        raise ValueError("span_not include terms must be distinct")
    if excl in toks:
        raise ValueError("span_not exclude term may not be an include term")
    pre, post = int(pre), int(post)
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    if pre + n + post > MAX_SLOP_PATTERNS:
        raise ValueError(f"window pre+len+post = {pre + n + post} too large")
    scored = scored_matches(index, " & ".join(toks), facts)

    if index.segments is not None and use_positional_phrases(index):
        from bitfunnel_spark.operators.segments import (
            _term_key_py,
            decode_group_positions,
        )

        inc_keys = {_term_key_py("body", t): i for i, t in enumerate(toks)}
        ex_key = _term_key_py("body", excl)
        off = max(16, n + pre + post)
        lim = np.int64(1) << np.int64(POS_BITS)
        seg = index.segments.filter(
            _segment_filter(index, {("body", t) for t in toks} | {("body", excl)})
        )

        def surviving_docs(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
            if not len(pdf):
                return empty
            occ: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            ex_occ: tuple[np.ndarray, np.ndarray] | None = None
            for key, rows in pdf.groupby("term_key"):
                d, t, p = decode_group_positions(rows)
                if not d.size:
                    continue
                pair = (np.repeat(d, t).astype(np.int64), p.astype(np.int64))
                if int(key) == ex_key:
                    ex_occ = pair
                i = inc_keys.get(int(key))
                if i is not None:
                    occ[i] = pair
            if len(occ) != n:
                return empty
            # phrase starts: packed (doc << POS_BITS) + (p_i - i + off)
            starts = None
            for i in range(n):
                docs_i, p_i = occ[i]
                shifted = p_i - i + off
                ok = shifted < lim
                kk = (docs_i[ok] << np.int64(POS_BITS)) + shifted[ok]
                starts = kk if starts is None else starts[np.isin(starts, kk)]
                if starts.size == 0:
                    return empty
            if ex_occ is not None:
                ex_d, ex_p = ex_occ
                killed = np.zeros(starts.shape, dtype=bool)
                # exclude at q kills start s iff q - s in [-pre, n-1+post]
                for delta in range(-pre, n + post):
                    shifted = ex_p - delta + off
                    ok = shifted < lim
                    ek = (ex_d[ok] << np.int64(POS_BITS)) + shifted[ok]
                    killed |= np.isin(starts, ek)
                starts = starts[~killed]
            if starts.size == 0:
                return empty
            return pd.DataFrame(
                {"doc_id": np.unique(starts >> np.int64(POS_BITS)).astype("int64")}
            )

        docs = seg.groupBy("shard", "slice").applyInPandas(surviving_docs, "doc_id long")
    else:
        tk = index.corpus.select("doc_id", tokenize("content", _idx_analyzer(index)).alias("tk"))

        def check(batches):
            for pdf in batches:
                keep = []
                for doc, arr in zip(pdf["doc_id"], pdf["tk"]):
                    lst = list(arr)
                    ex_pos = {p for p, t in enumerate(lst) if t == excl}
                    hit = False
                    for s in range(len(lst) - n + 1):
                        if lst[s : s + n] != toks:
                            continue
                        lo, hi = s - pre, s + n - 1 + post
                        if not any(lo <= q <= hi for q in ex_pos):
                            hit = True
                            break
                    if hit:
                        keep.append(doc)
                yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

        docs = tk.mapInPandas(check, "doc_id long")
    return (
        scored.join(docs, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rank_eval(
    index, cases: list[tuple[str, str]], k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES Ranking Evaluation API (_rank_eval): retrieval quality metrics
    for a query log. Each case is (search_query, qrel_query): the run is
    the search query's BM25 top-k, the relevant set is the qrel query's
    full match set (binary relevance — the deterministic analogue of a
    hand-labeled qrel list). Returns one row per case:
    DataFrame[(query_id, n_rel, p_at_k, recall_at_k, rr, ndcg)] ordered
    by query_id, metrics rounded 4 dp. rr = 1/rank of the first relevant
    hit (0 when none); ndcg uses binary gains, 1/log2(rank+1) discounts,
    ideal DCG over min(k, n_rel) positions.

    Scale shape: ALL runs evaluate in one batched search_many job and all
    qrel sets in one match_many job (shared block cache, no per-case job
    floor). The rank window partitions by query_id over ≤k rows per case;
    metric aggregation is one partial-agg groupBy on query_id; n_rel and
    idcg derive from a |cases|-row broadcast. Nothing driver-side scales
    with the corpus.
    """
    from bitfunnel_spark.plans.batch import match_many, search_many

    if not cases:
        raise ValueError("rank_eval needs at least one case")
    run = search_many(index, [c[0] for c in cases], k, facts)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    run = run.withColumn("rank", F.row_number().over(w))
    rel = match_many(index, [c[1] for c in cases], facts)
    nrel = rel.groupBy("query_id").agg(F.count("*").alias("n_rel"))
    joined = run.join(
        rel.withColumn("_rel", F.lit(1)), ["query_id", "doc_id"], "left"
    )
    per_q = joined.groupBy("query_id").agg(
        F.coalesce(F.sum("_rel"), F.lit(0)).alias("n_hit"),
        F.coalesce(
            F.sum(F.col("_rel") / F.log2(F.col("rank") + F.lit(1))), F.lit(0.0)
        ).alias("dcg"),
        F.min(F.when(F.col("_rel").isNotNull(), F.col("rank"))).alias("min_rank"),
    )
    base = index.spark.createDataFrame(
        [(i,) for i in range(len(cases))], "query_id int"
    )
    g = (
        base.join(F.broadcast(per_q), "query_id", "left")
        .join(F.broadcast(nrel), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            F.col("min_rank"),
        )
    )
    ideal_n = F.least(F.lit(int(k)), F.col("n_rel")).cast("int")
    idcg = F.when(
        ideal_n > 0,
        F.aggregate(
            F.sequence(F.lit(1), ideal_n),
            F.lit(0.0),
            lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + F.lit(1.0)),
        ),
    ).otherwise(F.lit(0.0))
    return (
        g.select(
            "query_id",
            "n_rel",
            F.round(F.col("n_hit") / F.lit(float(k)), 4).alias("p_at_k"),
            F.round(
                F.when(
                    F.col("n_rel") > 0, F.col("n_hit") / F.col("n_rel")
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("recall_at_k"),
            F.round(
                F.when(
                    F.col("min_rank").isNotNull(), F.lit(1.0) / F.col("min_rank")
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("rr"),
            F.round(
                F.when(idcg > 0, F.col("dcg") / idcg).otherwise(F.lit(0.0)), 4
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


def sampler_agg(
    index, query: str, by: str = "lang", shard_size: int = 64,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``sampler`` aggregation: sub-aggregate over only the best
    ``shard_size`` matches PER SHARD instead of the full match set — the
    standard way to bound the cost of an expensive sub-agg on a huge
    match set. The sample is deterministic: the top ``shard_size`` rows
    of each shard in the total (score desc, doc_id asc) order (ES's
    "best matching" collection, made reproducible). Returns the terms
    sub-agg over the sample: DataFrame[(value, n_docs)] ordered
    (n_docs desc, value asc); counts sum to ≤ n_shards · shard_size.

    Scale shape: the scored match set joins the narrow (doc_id, shard)
    projection, the per-shard cut is a rank window PARTITIONED BY shard
    (each partition's sort is local to that shard's matches — never one
    global task), and everything downstream of the window sees at most
    n_shards · shard_size rows, which is the whole point of the
    operator: the sub-agg's cost is bounded by the sample budget, not
    the corpus.
    """
    from bitfunnel_spark.plans.executor import scored_matches

    if shard_size < 1:
        raise ValueError("shard_size must be >= 1")
    scored = scored_matches(index, query, facts)
    rows = scored.join(index.doc_stats.select("doc_id", "shard"), "doc_id")
    w = Window.partitionBy("shard").orderBy(F.desc("score"), F.asc("doc_id"))
    sample = (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shard_size)
        .select("doc_id")
    )
    grp = index.corpus.select("doc_id", F.col(by).alias("value"))
    return (
        sample.join(grp, "doc_id")
        .groupBy("value")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("value"))
    )


def diversified_sampler_agg(
    index, query: str, by: str = "lang", field: str = "repo",
    shard_size: int = 64, max_docs_per_value: int = 1,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``diversified_sampler``: like ``sampler_agg`` but the sample
    first keeps at most ``max_docs_per_value`` docs per distinct value of
    ``field`` within each shard (best-scoring first), THEN takes the best
    ``shard_size`` per shard — so one dominant repo/author can't flood
    the sample. Deterministic: both cuts rank by (score desc, doc_id
    asc). Returns DataFrame[(value, n_docs)] ordered (n_docs desc,
    value asc).

    Scale shape: two stacked rank windows — the dedup window partitions
    by (shard, field value), strictly finer than the sampler window's
    shard partitioning, so no partition ever exceeds one shard's matches
    for one field value; the second window sees only the deduped
    survivors. Downstream cost is bounded by n_shards · shard_size
    exactly as in ``sampler_agg``.
    """
    from bitfunnel_spark.plans.executor import scored_matches

    if shard_size < 1 or max_docs_per_value < 1:
        raise ValueError("shard_size and max_docs_per_value must be >= 1")
    scored = scored_matches(index, query, facts)
    div = index.corpus.select("doc_id", F.col(field).alias("dval"))
    rows = scored.join(index.doc_stats.select("doc_id", "shard"), "doc_id").join(
        div, "doc_id"
    )
    wd = Window.partitionBy("shard", "dval").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    deduped = (
        rows.withColumn("dn", F.row_number().over(wd))
        .filter(F.col("dn") <= max_docs_per_value)
        .drop("dn", "dval")
    )
    w = Window.partitionBy("shard").orderBy(F.desc("score"), F.asc("doc_id"))
    sample = (
        deduped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shard_size)
        .select("doc_id")
    )
    grp = index.corpus.select("doc_id", F.col(by).alias("value"))
    return (
        sample.join(grp, "doc_id")
        .groupBy("value")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("value"))
    )


def facet_boxplot(
    index, query: str, by: str = "lang",
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``boxplot`` metric aggregation under a terms bucket: per facet
    value the five-number summary of body doclen over the match set —
    min, q1, q2 (median), q3, max. Quartiles use the exact continuous
    (interpolated) percentile, the same definition as facet_percentiles
    (DuckDB quantile_cont mirrors it bit-for-bit). Returns
    DataFrame[(<by>, n_docs, min, q1, q2, q3, max)] ordered by facet
    value, quartiles rounded 4 dp.

    Scale shape: identical to facet_stats — match set → two narrow
    doc_id equi-joins → ONE map-side-combined groupBy computing all five
    summaries as sibling aggregate expressions (never one scan per
    metric). ES computes boxplot with a TDigest sketch; the documented
    100 TB swap is percentile_approx exactly as in facet_percentiles.
    """
    matches = index.match(query, facts).select("doc_id")
    grp = index.corpus.select("doc_id", by)
    dl = index.doc_stats.select("doc_id", "doclen")
    rows = matches.join(grp, "doc_id").join(dl, "doc_id")
    q = lambda p: F.round(  # noqa: E731
        F.percentile("doclen", F.lit(p)).cast("double"), 4
    )
    return (
        rows.groupBy(by)
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doclen").cast("double").alias("min"),
            q(0.25).alias("q1"),
            q(0.50).alias("q2"),
            q(0.75).alias("q3"),
            F.max("doclen").cast("double").alias("max"),
        )
        .orderBy(by)
    )


def percentile_ranks(
    index, query: str, values, facts: list[str] | None = None,
) -> DataFrame:
    """ES ``percentile_ranks`` metric aggregation on body doclen: for each
    requested value, the percentage of matching documents whose doclen is
    <= that value (the exact empirical CDF — ES interpolates the rank from
    a TDigest sketch; the exact definition is deterministic and
    SQL-mirrorable, and the documented 100 TB swap is the same
    percentile_approx sketch as facet_percentiles). Returns
    DataFrame[(value, pct)] ordered by value, pct rounded 4 dp.

    Scale shape: one doc_id equi-join then ONE global aggregate computing
    every requested rank as sibling conditional sums (map-side partials;
    never one scan per value)."""
    vals = sorted(float(v) for v in values)
    if not vals:
        raise ValueError("percentile_ranks needs at least one value")
    matches = index.match(query, facts).select("doc_id")
    dl = index.doc_stats.select("doc_id", "doclen")
    row = matches.join(dl, "doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.when(F.col("doclen") <= v, 1).otherwise(0)).alias(f"c{i}")
            for i, v in enumerate(vals)
        ],
    )
    pairs = F.array(*[
        F.struct(
            F.lit(v).cast("double").alias("value"),
            F.round(
                F.col(f"c{i}").cast("double") / F.col("n").cast("double") * 100.0, 4
            ).alias("pct"),
        )
        for i, v in enumerate(vals)
    ])
    return row.select(F.explode(pairs).alias("e")).select("e.value", "e.pct")


def t_test(
    index, query_a: str, query_b: str, facts: list[str] | None = None,
) -> DataFrame:
    """ES ``t_test`` metric aggregation (type=heteroscedastic — Welch's
    unpaired two-sample test) comparing body doclen between two queries'
    match sets. Sample variance (n-1 denominator), as ES computes it.

    Determinism: both sides aggregate exact int64 (n, sum, sum of squares),
    then mean/variance/t derive with a FIXED float64 op order —
    var = (sumsq − n·mean·mean)/(n−1), t = (mean_a − mean_b) /
    sqrt(var_a/n_a + var_b/n_b) — the same expressions the SQL oracle uses,
    so results agree exactly despite distributed partial aggregation.
    Returns one row (n_a, n_b, mean_a, mean_b, t_stat), floats 4 dp.

    Scale shape: the two match sets union with a literal side label, ONE
    doc_id equi-join against the doclen side table, ONE global aggregate of
    conditional sums — two index probes but a single data pass, no windows."""
    dl = index.doc_stats.select("doc_id", "doclen")
    both = (
        index.match(query_a, facts).select("doc_id", F.lit("a").alias("side"))
        .unionByName(
            index.match(query_b, facts).select("doc_id", F.lit("b").alias("side"))
        )
    )
    def _side(s):
        on = F.col("side") == s
        return [
            F.sum(F.when(on, 1).otherwise(0)).alias(f"n_{s}"),
            F.sum(F.when(on, F.col("doclen")).otherwise(0)).alias(f"sum_{s}"),
            F.sum(F.when(on, F.col("doclen") * F.col("doclen")).otherwise(0)).alias(f"sq_{s}"),
        ]
    agg = both.join(dl, "doc_id").agg(*_side("a"), *_side("b"))
    def _stats(s):
        n = F.col(f"n_{s}").cast("double")
        mean = F.col(f"sum_{s}").cast("double") / n
        var = (F.col(f"sq_{s}").cast("double") - n * mean * mean) / (n - F.lit(1.0))
        return n, mean, var
    na, ma, va = _stats("a")
    nb, mb, vb = _stats("b")
    t = (ma - mb) / F.sqrt(va / na + vb / nb)
    return agg.select(
        F.col("n_a"), F.col("n_b"),
        F.round(ma, 4).alias("mean_a"), F.round(mb, 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
    )


def string_stats(
    index, query: str, field: str = "repo", facts: list[str] | None = None,
) -> DataFrame:
    """ES ``string_stats`` metric aggregation over a keyword field of the
    match set: value count, min/max/avg value length, and Shannon entropy
    (base 2) of the CHARACTER distribution across all values — exactly the
    ES definition (show_distribution's underlying statistic). Returns one
    row (count, min_length, max_length, avg_length, entropy), floats 4 dp.

    Scale shape: match set → one narrow doc_id equi-join; lengths reduce in
    ONE global aggregate; entropy reduces matched values → per-character
    counts (a two-level agg with map-side combine — the character alphabet
    is tiny, so the second stage is a handful of rows) → one log2 fold.
    Python never sees a row; chars explode JVM-side via split()."""
    matches = index.match(query, facts).select("doc_id")
    vals = (
        matches.join(index.corpus.select("doc_id", field), "doc_id")
        .select(F.col(field).cast("string").alias("v"))
    )
    lens = vals.agg(
        F.count("*").alias("count"),
        F.min(F.length("v")).alias("min_length"),
        F.max(F.length("v")).alias("max_length"),
        F.sum(F.length("v")).alias("len_sum"),
    )
    chars = (
        vals.select(F.explode(F.split("v", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("ch").agg(F.count("*").alias("c"))
    )
    ent = chars.agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double"))).alias("clog"),
    ).select(
        # -Σ p·log2 p refactored as log2(total) − Σ c·log2(c)/total: one
        # pass, and the SAME op order the SQL oracle uses
        (
            F.log2(F.col("total").cast("double"))
            - F.col("clog") / F.col("total").cast("double")
        ).alias("entropy_raw")
    )
    return lens.crossJoin(ent).select(
        "count", "min_length", "max_length",
        F.round(F.col("len_sum").cast("double") / F.col("count").cast("double"), 4)
          .alias("avg_length"),
        F.round("entropy_raw", 4).alias("entropy"),
    )


def global_stats(index) -> DataFrame:
    """ES ``global`` aggregation with a stats(doclen) sub-agg: corpus-wide
    doclen statistics that IGNORE the query context (the ES global bucket's
    purpose — comparing a filtered agg against the unfiltered corpus).
    Returns one row (n_docs, sum_doclen, min_doclen, max_doclen,
    avg_doclen 4 dp).

    Scale shape: one aggregate over the persisted doc_stats side table —
    no corpus scan, no match, no shuffle beyond the single-row reduce."""
    return index.doc_stats.agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("sum_doclen"),
        F.min("doclen").alias("min_doclen"),
        F.max("doclen").alias("max_doclen"),
    ).select(
        "n_docs", "sum_doclen", "min_doclen", "max_doclen",
        F.round(
            F.col("sum_doclen").cast("double") / F.col("n_docs").cast("double"), 4
        ).alias("avg_doclen"),
    )


def distance_feature(
    index, query, field: str = "doclen", origin: float = 0.0,
    pivot: float = 1.0, boost: float = 1.0, k: int = 10,
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``distance_feature`` query on a per-document numeric feature:
    score = boost · pivot / (pivot + |value − origin|) — 1·boost at the
    origin, decaying hyperbolically with distance, exactly ES's formula
    for numeric/date fields (dates reduce to the same arithmetic on epoch
    millis). ``field`` is ``doclen`` or a numeric corpus metadata column;
    ``query`` restricts to a match set, None scores the whole corpus (the
    standalone form — ES's distance_feature matches all docs carrying the
    field). Returns DataFrame[(doc_id, score)] (4 dp, score desc,
    doc_id asc, ≤k).

    Scale shape: identical to rank_feature — one narrow feature-column
    join (or a bare doc-stats scan for query=None) + a column expression +
    TakeOrderedAndProject; nothing is recomputed per query."""
    if float(pivot) <= 0:
        raise ValueError("distance_feature needs a positive pivot")
    if field == "doclen":
        feats = index.doc_stats.select(
            "doc_id", F.col("doclen").cast("double").alias("fv")
        )
    else:
        feats = index.corpus.select(
            "doc_id", F.col(field).cast("double").alias("fv")
        )
    if query is not None:
        matches = index.match(query, facts).select("doc_id")
        feats = matches.join(feats, "doc_id", "left").fillna(0.0, subset=["fv"])
    else:
        # standalone scan: mask tombstones AND the ambient doc
        # restriction, which match()/executor._matched would otherwise
        # supply (the rank_feature branch above documents the same)
        tomb = getattr(index, "tombstones", frozenset())
        if tomb:
            feats = feats.filter(
                ~F.col("doc_id").isin([int(d) for d in tomb])
            )
        amb = getattr(index, "_restrict_docs", None)
        if amb is not None:
            feats = feats.join(amb.select("doc_id"), "doc_id", "left_semi")
    dist = F.abs(F.col("fv") - F.lit(float(origin)))
    expr = F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)
    return (
        feats.select(
            "doc_id", F.round(F.lit(float(boost)) * expr, 4).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def weighted_avg(
    index, query: str, value_field: str = "chars",
    weight_field: str = "doclen", facts: list[str] | None = None,
) -> DataFrame:
    """ES ``weighted_avg`` metric aggregation over the match set:
    Σ(value·weight) / Σ(weight). Supported per-doc numerics: ``doclen``
    (body token count, from doc stats) and ``chars`` (character length of
    the document content — length(text), the same expression the SQL
    oracle uses). Returns one row (n, weight_sum, weighted_avg 4 dp).

    Determinism: both numerators aggregate exact int64 (value and weight
    are integers), the single float64 divide happens once at the end — so
    distributed partial aggregation cannot reorder float folds.

    Scale shape: match set → ONE narrow doc_id equi-join against the
    feature columns → ONE global aggregate with map-side partials; the
    content column is touched only if ``chars`` is requested, and then
    only as length() inside the scan projection."""
    cols = {}
    for role, f in (("v", value_field), ("w", weight_field)):
        if f == "doclen":
            cols[role] = index.doc_stats.select(
                "doc_id", F.col("doclen").cast("long").alias(role)
            )
        elif f == "chars":
            cols[role] = index.corpus.select(
                "doc_id", F.length("content").cast("long").alias(role)
            )
        else:
            raise ValueError(
                f"weighted_avg fields must be doclen or chars, got {f!r}"
            )
    if value_field == weight_field:
        raise ValueError("weighted_avg value and weight must differ")
    matches = index.match(query, facts).select("doc_id")
    joined = matches.join(cols["v"], "doc_id").join(cols["w"], "doc_id")
    return joined.agg(
        F.count("*").alias("n"),
        F.sum("w").alias("weight_sum"),
        F.sum(F.col("v") * F.col("w")).alias("vw_sum"),
    ).select(
        "n", "weight_sum",
        F.round(
            F.col("vw_sum").cast("double") / F.col("weight_sum").cast("double"), 4
        ).alias("weighted_avg"),
    )


def matrix_stats(
    index, query: str, fields: tuple[str, str] = ("doclen", "chars"),
    facts: list[str] | None = None,
) -> DataFrame:
    """ES ``matrix_stats`` aggregation over two per-doc numerics of the
    match set: per-field moments (count, mean, sample variance, skewness,
    kurtosis) and the cross-field sample covariance and Pearson
    correlation. Flattened rendering: one row per ordered (field_a,
    field_b) with field_a <= field_b — self rows carry the field's
    moments with covariance = variance and correlation = 1; the cross row
    carries field_a's moments plus the pair covariance/correlation.
    Fields: ``doclen`` (body token count, doc stats) and ``chars``
    (length(content) inside the scan projection).

    Determinism (the t_test/extended_stats discipline): raw power sums
    Σx..Σx⁴ and Σxy aggregate as EXACT int64, every float64 derivation is
    one fixed expression over those integers (sqrt-based, no pow), so
    distributed partial aggregation cannot reorder float folds and the
    DuckDB oracle evaluates the literally-same formulas. Int64 bound:
    n·max(x)⁴ < 2^63 — holds through every test SF (doclen/chars ≤ ~10⁴);
    at 100 TB with long documents, shift each field by its min (moments
    are shift-equivariant) or raise to per-partition centered partials —
    the documented seam, same as the reference's own overflow notes.

    Scale shape: match set → two narrow doc_id equi-joins → ONE global
    aggregate (map-side partials, a one-row shuffle); the three output
    rows derive from that single row. Skewness/kurtosis are the
    population moment ratios (m3/m2^1.5, m4/m2²) — ES's own definitions;
    variance/covariance are the unbiased n−1 forms, also ES's."""
    a, b = fields
    if a == b or {a, b} - {"doclen", "chars"}:
        raise ValueError(
            f"matrix_stats takes two distinct fields from doclen/chars, got {fields!r}"
        )

    def _col(f, role):
        if f == "doclen":
            return index.doc_stats.select(
                "doc_id", F.col("doclen").cast("long").alias(role)
            )
        return index.corpus.select(
            "doc_id", F.length("content").cast("long").alias(role)
        )

    matches = index.match(query, facts).select("doc_id")
    j = matches.join(_col(a, "x"), "doc_id").join(_col(b, "y"), "doc_id")
    x, y = F.col("x"), F.col("y")
    agg = j.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"), F.sum(x * x).alias("sx2"),
        F.sum(x * x * x).alias("sx3"), F.sum(x * x * x * x).alias("sx4"),
        F.sum(y).alias("sy"), F.sum(y * y).alias("sy2"),
        F.sum(y * y * y).alias("sy3"), F.sum(y * y * y * y).alias("sy4"),
        F.sum(x * y).alias("sxy"),
    ).filter(F.col("n") >= 2)

    # identical formula text on both sides of the oracle compare —
    # see plans/oracle.oracle_matrix_stats_sql (MATRIX_STATS_EXPRS)
    from bitfunnel_spark.plans.oracle import matrix_stats_exprs

    rows = []
    for fa, fb, pa, pb in ((a, a, "x", "x"), (a, b, "x", "y"), (b, b, "y", "y")):
        e = matrix_stats_exprs(pa, pb)
        rows.append(agg.select(
            F.lit(fa).alias("field_a"), F.lit(fb).alias("field_b"),
            F.col("n"),
            F.round(F.expr(e["mean"]), 4).alias("mean_a"),
            F.round(F.expr(e["variance"]), 4).alias("variance_a"),
            F.round(F.expr(e["skewness"]), 4).alias("skewness_a"),
            F.round(F.expr(e["kurtosis"]), 4).alias("kurtosis_a"),
            F.round(F.expr(e["covariance"]), 4).alias("covariance"),
            F.round(F.expr(e["correlation"]), 4).alias("correlation"),
        ))
    out = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return out.orderBy("field_a", "field_b")


def metric_agg(
    index, query: str, kind: str, field: str = "doclen",
    percents: tuple[float, ...] = (25.0, 50.0, 75.0, 95.0),
    facts: list[str] | None = None,
) -> DataFrame:
    """A TOP-LEVEL leaf metric aggregation over the match set — the most
    common ES aggregation shape (`{"aggs": {"x": {"avg": {"field": f}}}}`
    with no bucket): ``stats`` (n_docs, min, max, sum, avg),
    ``avg``/``sum``/``min``/``max``/``value_count`` (one (n_docs, value)
    row), ``cardinality`` (distinct values of a keyword or numeric
    field), ``percentiles`` (one row of exact interpolated percentiles —
    DuckDB quantile_cont's continuous definition). Numeric fields:
    doclen (doc stats) / chars (length(content) in the scan projection);
    cardinality also takes keyword corpus fields.

    Determinism: integer sums exact int64; avg is ONE float64 divide
    (extended_stats' discipline). Scale shape: match set → one narrow
    doc_id equi-join → ONE global aggregate with map-side partials (the
    shuffle carries one partial row per partition); exact percentiles
    buffer the matched values in the single reducer — fine for a one-row
    global answer; the documented 100 TB path is percentile_approx
    (facet_percentiles' exact/approx split)."""
    numeric = {"doclen", "chars"}
    keyword = {"lang", "repo", "path", "commit"}
    if kind == "cardinality":
        if field not in numeric | keyword:
            raise ValueError(f"cardinality field must be one of "
                             f"{sorted(numeric | keyword)}, got {field!r}")
    elif field not in numeric:
        raise ValueError(f"{kind} field must be doclen or chars, got {field!r}")
    if field == "doclen":
        vals = index.doc_stats.select("doc_id", F.col("doclen").cast("long").alias("v"))
    elif field == "chars":
        vals = index.corpus.select("doc_id", F.length("content").cast("long").alias("v"))
    else:
        vals = index.corpus.select("doc_id", F.col(field).alias("v"))
    if query is None:
        # no query = the whole live corpus (ES metrics without a query);
        # tombstones still mask
        j = vals
        tomb = getattr(index, "tombstones", frozenset())
        if tomb:
            j = j.filter(~F.col("doc_id").isin([int(d) for d in tomb]))
    else:
        matches = index.match(query, facts).select("doc_id")
        j = matches.join(vals, "doc_id")
    if kind == "stats":
        agg = j.agg(
            F.count("*").alias("n_docs"),
            F.min("v").alias("min_val"), F.max("v").alias("max_val"),
            F.sum("v").alias("sum_val"),
        )
        return agg.select(
            "n_docs", "min_val", "max_val", "sum_val",
            F.round(
                F.col("sum_val").cast("double") / F.col("n_docs").cast("double"), 4
            ).alias("avg_val"),
        )
    if kind == "percentiles":
        aggs = [F.count("*").alias("n_docs")] + [
            F.round(F.percentile("v", F.lit(p / 100.0)), 4).alias(f"p{p:g}")
            for p in percents
        ]
        return j.agg(*aggs)
    if kind == "cardinality":
        return j.agg(F.count_distinct("v").alias("value"))
    fns = {
        "avg": lambda: F.round(
            F.sum("v").cast("double") / F.count("*").cast("double"), 4
        ),
        "sum": lambda: F.sum("v"),
        "min": lambda: F.min("v"),
        "max": lambda: F.max("v"),
        "value_count": lambda: F.count("v"),
    }
    if kind not in fns:
        raise ValueError(f"unknown metric kind {kind!r}")
    return j.agg(F.count("*").alias("n_docs"), fns[kind]().alias("value"))
