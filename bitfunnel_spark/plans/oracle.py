"""DuckDB oracle-SQL generation.

For any query AST, emit standalone ANSI-ish SQL (DuckDB dialect) over the
pre-registered `documents` view that computes the *same* match set and BM25
top-k as the Spark engine — same tokenizer regex, same streams, same BM25
formula, same rounding and tie-breaking. This mirrors the reference's
oracle-based verification (TermMatchTreeEvaluator + MatchVerifier —
/root/reference/src/Plan/src/VerifyOneQuery.cpp:47-125): an independent
brute-force evaluation of the query semantics, here in a different engine
entirely. Our index is exact, so we demand zero false positives AND zero
false negatives (stricter than the reference's FP-tolerant check,
MatchVerifier.cpp:205-221).
"""

from __future__ import annotations

from bitfunnel_spark.config import TOKEN_PATTERN, BuildConfig
from bitfunnel_spark.functions.tokenizer import CODE_SPLIT_RULES
from bitfunnel_spark.plans.ast import And, FieldGroup, Node, Not, Or, Phrase, SynGroup, Term
from bitfunnel_spark.plans.planner import QueryPlan, as_plan

_PAT = TOKEN_PATTERN.replace("'", "''")


def code_split_sql(expr: str) -> str:
    """DuckDB mirror of functions/tokenizer.code_split_text: the identical
    regex chain (Java and RE2 interpret these patterns the same), with
    Spark's ``$n`` backreferences rewritten to DuckDB's ``\\n`` and the 'g'
    flag supplying Spark's replace-all default."""
    out = expr
    for pat, rep in CODE_SPLIT_RULES:
        duck_rep = rep.replace("$1", "\\1").replace("$2", "\\2")
        out = f"regexp_replace({out}, '{pat}', '{duck_rep}', 'g')"
    return out


def _analyzed(expr: str, analyzer: str) -> str:
    if analyzer == "code":
        return f"lower({code_split_sql(expr)})"
    return f"lower({expr})"


def corpus_cte_head(analyzer: str = "standard", body_src: str = "text") -> str:
    """The `corpus AS (...)` head CTE, parameterized by index analyzer and
    by the body-source expression (entries that derive content from the
    documents table — e.g. the camelCase-injected code-analyzer corpus —
    pass their derivation as ``body_src``)."""
    return f"""corpus AS (
  SELECT doc_id,
         {_analyzed(body_src, analyzer)} AS body_text,
         {_analyzed("'doc' || CAST(doc_id AS VARCHAR) || '.txt'", analyzer)} AS path_text,
         lower(lang) AS lang_text,
         lower(source) AS repo_text
  FROM documents
)"""


def corpus_cte(analyzer: str = "standard", body_src: str = "text") -> str:
    """Full statistics CTE chain (corpus → body_tok → dl → meta → tf →
    dfreq) over the given analyzer/body source. ``CORPUS_CTE`` below is the
    standard-analyzer instance shared by most oracles."""
    return f"""{corpus_cte_head(analyzer, body_src)},
body_tok AS (
  SELECT doc_id, unnest(regexp_extract_all(body_text, '{_PAT}')) AS term FROM corpus
),
dl AS (SELECT doc_id, count(*) AS doclen FROM body_tok GROUP BY doc_id),
meta AS (
  SELECT (SELECT count(*) FROM corpus) AS n_docs,
         CAST((SELECT coalesce(sum(doclen), 0) FROM dl) AS DOUBLE)
           / (SELECT count(*) FROM corpus) AS avgdl,
         (SELECT coalesce(sum(doclen), 0) FROM dl) AS body_total
),
tf AS (
  SELECT doc_id, 'body' AS stream, term, count(*) AS tf FROM body_tok GROUP BY doc_id, term
  UNION ALL
  SELECT doc_id, 'path' AS stream, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(path_text, '{_PAT}')) AS term FROM corpus)
  GROUP BY doc_id, term
  UNION ALL SELECT doc_id, 'lang' AS stream, lang_text AS term, 1 AS tf FROM corpus
  UNION ALL SELECT doc_id, 'repo' AS stream, repo_text AS term, 1 AS tf FROM corpus
),
dfreq AS (SELECT stream, term, count(*) AS df, sum(tf) AS ctf FROM tf GROUP BY stream, term)"""


# documents(doc_id, text, lang, source, n_chars) → canonical corpus streams.
# Must mirror sources/corpus.corpus_from_documents + operators/statistics.
CORPUS_CTE = f"""corpus AS (
  SELECT doc_id,
         lower(text) AS body_text,
         'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS path_text,
         lower(lang) AS lang_text,
         lower(source) AS repo_text
  FROM documents
),
body_tok AS (
  SELECT doc_id, unnest(regexp_extract_all(body_text, '{_PAT}')) AS term FROM corpus
),
dl AS (SELECT doc_id, count(*) AS doclen FROM body_tok GROUP BY doc_id),
meta AS (
  SELECT (SELECT count(*) FROM corpus) AS n_docs,
         CAST((SELECT coalesce(sum(doclen), 0) FROM dl) AS DOUBLE)
           / (SELECT count(*) FROM corpus) AS avgdl,
         (SELECT coalesce(sum(doclen), 0) FROM dl) AS body_total
),
tf AS (
  SELECT doc_id, 'body' AS stream, term, count(*) AS tf FROM body_tok GROUP BY doc_id, term
  UNION ALL
  SELECT doc_id, 'path' AS stream, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(path_text, '{_PAT}')) AS term FROM corpus)
  GROUP BY doc_id, term
  UNION ALL SELECT doc_id, 'lang' AS stream, lang_text AS term, 1 AS tf FROM corpus
  UNION ALL SELECT doc_id, 'repo' AS stream, repo_text AS term, 1 AS tf FROM corpus
),
dfreq AS (SELECT stream, term, count(*) AS df, sum(tf) AS ctf FROM tf GROUP BY stream, term)"""

_STREAM_TEXT = {"body": "body_text", "path": "path_text", "lang": "lang_text", "repo": "repo_text"}


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _phrase_subquery(ph: Phrase) -> str:
    col = _STREAM_TEXT[ph.stream]
    slop = int(getattr(ph, "slop", 0))
    if slop == 0:
        return (
            "h.doc_id IN (SELECT doc_id FROM corpus WHERE contains("
            f"' ' || array_to_string(regexp_extract_all({col}, '{_PAT}'), ' ') || ' ', "
            f"{_q(' ' + ph.text + ' ')}))"
        )
    # sloppy phrase: ordered positions p1 < .. < pn with span <= (n-1)+slop
    n = len(ph.tokens)
    ptok = (
        f"(SELECT doc_id, unnest(regexp_extract_all({col}, '{_PAT}')) AS t, "
        f"unnest(range(1, len(regexp_extract_all({col}, '{_PAT}')) + 1)) AS p "
        f"FROM corpus)"
    )
    joins = [f"{ptok} p1"]
    conds = [f"p1.t = {_q(ph.tokens[0])}"]
    for k in range(2, n + 1):
        joins.append(f"JOIN {ptok} p{k} ON p{k}.doc_id = p1.doc_id AND p{k}.p > p{k - 1}.p")
        conds.append(f"p{k}.t = {_q(ph.tokens[k - 1])}")
    conds.append(f"p{n}.p - p1.p <= {n - 1 + slop}")
    return (
        "h.doc_id IN (SELECT DISTINCT p1.doc_id FROM "
        + " ".join(joins)
        + " WHERE "
        + " AND ".join(conds)
        + ")"
    )


def _bool_sql(node: Node) -> str:
    if isinstance(node, Term):
        return f"list_contains(h.hitkeys, {_q(node.stream + ':' + node.text)})"
    if isinstance(node, (SynGroup, FieldGroup)):  # matches like an OR of members
        return (
            "("
            + " OR ".join(
                f"list_contains(h.hitkeys, {_q(s + ':' + t)})" for s, t in node.keys
            )
            + ")"
        )
    if isinstance(node, Phrase):
        return _phrase_subquery(node)
    if isinstance(node, Not):
        return f"(NOT {_bool_sql(node.child)})"
    if isinstance(node, And):
        return "(" + " AND ".join(_bool_sql(c) for c in node.children) + ")"
    if isinstance(node, Or):
        if getattr(node, "min_match", 1) > 1:
            counted = " + ".join(
                f"CAST({_bool_sql(c)} AS INT)" for c in node.children
            )
            return f"(({counted}) >= {node.min_match})"
        return "(" + " OR ".join(_bool_sql(c) for c in node.children) + ")"
    raise TypeError(type(node))


def _hits_cte(
    plan: QueryPlan, config: BuildConfig,
    extra_terms: set[tuple[str, str]] | None = None,
    similarity: str = "bm25",
) -> str:
    # extra_terms widens hitkeys (so _bool_sql predicates of a SECOND,
    # non-scoring plan can evaluate — e.g. oracle_boosting_sql's negative
    # arm) without touching the scoring keys.
    keys = sorted({f"{s}:{t}" for s, t in (plan.terms | (extra_terms or set()))})
    key_list = ", ".join(_q(k) for k in keys)
    scoring = sorted(getattr(plan, "scoring_keys", set()))
    k1, b = config.bm25.k1, config.bm25.b
    if scoring:
        # scoring is (stream, term)-keyed: body keys always, non-body keys
        # when field-boosted (planner.plan_query)
        scoring_list = ", ".join(_q(f"{s}:{t}") for s, t in scoring)
        # association mirrors both Spark executors: (idf·boost) * partial —
        # SQL '*' is left-associative, so idf * boost * partial groups the
        # same way as planner.effective_idf followed by the scorer
        boost_sql = ""
        if getattr(plan, "boosts", None):
            whens = " ".join(
                f"WHEN {_q(f'{s}:{t}')} THEN {float(f)!r}"
                for (s, t), f in sorted(plan.boosts.items())
            )
            boost_sql = f"* CASE (tf.stream || ':' || tf.term) {whens} ELSE 1.0 END "
        if similarity == "classic":
            # Lucene ClassicSimilarity (plans/scoring.py): contribution =
            # ((idf_c·idf_c)·boost)·(sqrt(tf)/sqrt(doclen)) — SQL '*' is
            # left-associative, matching both Spark executors' op order
            cidf = "(1.0 + ln((meta.n_docs + 1.0) / (dfreq.df + 1.0)))"
            contrib = (
                f"CASE WHEN (tf.stream || ':' || tf.term) IN ({scoring_list}) THEN "
                f"{cidf} * {cidf} "
                f"{boost_sql}"
                f"* (sqrt(CAST(tf.tf AS DOUBLE)) / "
                f"sqrt(CAST(coalesce(dl.doclen, 0) AS DOUBLE))) ELSE 0.0 END"
            )
        elif similarity == "boolean":
            # Lucene BooleanSimilarity: constant (boost) per matched key
            contrib = (
                f"CASE WHEN (tf.stream || ':' || tf.term) IN ({scoring_list}) THEN "
                f"1.0 {boost_sql}ELSE 0.0 END"
            )
        elif similarity == "dot_tf":
            # sparse dot product: (1.0·boost)·tf — '*' is left-associative,
            # matching (weight·boost)·tf in both Spark executors
            contrib = (
                f"CASE WHEN (tf.stream || ':' || tf.term) IN ({scoring_list}) THEN "
                f"1.0 {boost_sql}* CAST(tf.tf AS DOUBLE) ELSE 0.0 END"
            )
        elif similarity == "lm_dirichlet":
            # Lucene LMDirichletSimilarity (plans/scoring.py): per-term
            # clamp at 0; μ·p(t) parenthesized exactly like mu_p_map so
            # the folded constants match the engine's float64
            mu = "2000.0"
            mu_p = f"({mu} * ((dfreq.ctf + 1.0) / (meta.body_total + 1.0)))"
            contrib = (
                f"CASE WHEN (tf.stream || ':' || tf.term) IN ({scoring_list}) THEN "
                f"greatest(1.0 {boost_sql}* "
                f"(ln(1.0 + tf.tf / {mu_p}) + "
                f"ln({mu} / (coalesce(dl.doclen, 0) + {mu}))), 0.0) ELSE 0.0 END"
            )
        else:
            contrib = (
                f"CASE WHEN (tf.stream || ':' || tf.term) IN ({scoring_list}) THEN "
                f"ln((meta.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) "
                f"{boost_sql}"
                f"* (tf.tf * {k1 + 1.0!r} / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r} "
                f"* coalesce(dl.doclen, 0) / meta.avgdl))) ELSE 0.0 END"
            )
    else:
        contrib = "0.0"
    groups = getattr(plan, "syn_groups", ()) or ()
    fgroups = getattr(plan, "field_groups", ()) or ()
    if not groups and not fgroups:
        return f"""hits AS (
  SELECT tf.doc_id,
         list(tf.stream || ':' || tf.term) AS hitkeys,
         sum({contrib}) AS score
  FROM tf
  JOIN dfreq USING (stream, term)
  LEFT JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN meta
  WHERE (tf.stream || ':' || tf.term) IN ({key_list})
  GROUP BY tf.doc_id
)"""
    # blended synonym groups (plan.syn_groups — Lucene SynonymQuery): per
    # doc the group's summed tf + the max-tf member's tf; blended idf is a
    # group-level scalar from GLOBAL dfs (min idf ≡ idf of the max df).
    # The group contribution recovers the norm D by inverting the max-tf
    # member's partial with the same op order as both Spark executors.
    gcols, gscore = [], []
    for gi, group in enumerate(groups):
        members = ", ".join(_q(f"{s}:{t}") for s, t in sorted(group))
        gcols.append(
            f"sum(CASE WHEN (tf.stream || ':' || tf.term) IN ({members}) "
            f"THEN CAST(tf.tf AS DOUBLE) ELSE 0.0 END) AS g{gi}_tfsum,\n"
            f"         max(CASE WHEN (tf.stream || ':' || tf.term) IN ({members}) "
            f"THEN CAST(tf.tf AS DOUBLE) END) AS g{gi}_tfmax"
        )
        idfb = (
            f"(SELECT min(ln((m2.n_docs - d2.df + 0.5) / (d2.df + 0.5) + 1.0)) "
            f"FROM dfreq d2 CROSS JOIN meta m2 "
            f"WHERE (d2.stream || ':' || d2.term) IN ({members}))"
        )
        ptm = (
            f"(h0.g{gi}_tfmax * {k1 + 1.0!r} / (h0.g{gi}_tfmax + {k1!r} * "
            f"(1.0 - {b!r} + {b!r} * h0.dlen / meta.avgdl)))"
        )
        dn = f"(h0.g{gi}_tfmax * {k1 + 1.0!r} / {ptm} - h0.g{gi}_tfmax)"
        gscore.append(
            f"CASE WHEN h0.g{gi}_tfsum > 0 AND {idfb} IS NOT NULL THEN "
            f"{idfb} * (h0.g{gi}_tfsum * {k1 + 1.0!r} / (h0.g{gi}_tfsum + {dn})) "
            f"ELSE 0.0 END"
        )
    # combined-fields groups (FieldGroup — BM25F): one tf column PER MEMBER
    # (one tf row per (doc, stream, term), so max(CASE) is a scalar pick);
    # the weighted sum folds in the outer select in fixed sorted-member
    # order (SQL '+' is left-associative) — the same accumulation order as
    # kernel._score and the DataFrame executor, so float64 stays identical.
    # Norm D is recovered from the max-raw-tf member exactly like the
    # synonym branch (doclen is the shared body count, so D is doc-level).
    for gi, group in enumerate(fgroups):
        members = ", ".join(_q(f"{s}:{t}") for (s, t), _w in group)
        mcols = ",\n         ".join(
            f"max(CASE WHEN (tf.stream || ':' || tf.term) = {_q(f'{s}:{t}')} "
            f"THEN CAST(tf.tf AS DOUBLE) END) AS f{gi}m{mi}_tf"
            for mi, ((s, t), _w) in enumerate(group)
        )
        gcols.append(
            f"{mcols},\n"
            f"         max(CASE WHEN (tf.stream || ':' || tf.term) IN ({members}) "
            f"THEN CAST(tf.tf AS DOUBLE) END) AS f{gi}_tfmax"
        )
        idfb = (
            f"(SELECT min(ln((m2.n_docs - d2.df + 0.5) / (d2.df + 0.5) + 1.0)) "
            f"FROM dfreq d2 CROSS JOIN meta m2 "
            f"WHERE (d2.stream || ':' || d2.term) IN ({members}))"
        )
        ptm = (
            f"(h0.f{gi}_tfmax * {k1 + 1.0!r} / (h0.f{gi}_tfmax + {k1!r} * "
            f"(1.0 - {b!r} + {b!r} * h0.dlen / meta.avgdl)))"
        )
        dn = f"(h0.f{gi}_tfmax * {k1 + 1.0!r} / {ptm} - h0.f{gi}_tfmax)"
        tfsum = "0.0"
        for mi, (_k, w) in enumerate(group):
            tfsum = f"{tfsum} + {float(w)!r} * coalesce(h0.f{gi}m{mi}_tf, 0.0)"
        gscore.append(
            f"CASE WHEN ({tfsum}) > 0 AND {idfb} IS NOT NULL THEN "
            f"{idfb} * (({tfsum}) * {k1 + 1.0!r} / (({tfsum}) + {dn})) "
            f"ELSE 0.0 END"
        )
    gcols_sql = ",\n         ".join(gcols)
    gscore_sql = " + ".join(gscore)
    return f"""hits0 AS (
  SELECT tf.doc_id,
         list(tf.stream || ':' || tf.term) AS hitkeys,
         sum({contrib}) AS score,
         max(coalesce(dl.doclen, 0)) AS dlen,
         {gcols_sql}
  FROM tf
  JOIN dfreq USING (stream, term)
  LEFT JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN meta
  WHERE (tf.stream || ':' || tf.term) IN ({key_list})
  GROUP BY tf.doc_id
),
hits AS (
  SELECT h0.doc_id, h0.hitkeys,
         h0.score + {gscore_sql} AS score
  FROM hits0 h0 CROSS JOIN meta
)"""


def oracle_search_sql(
    query, k: int = 10, config: BuildConfig | None = None,
    extra_where: str | None = None, offset: int = 0,
    similarity: str = "bm25", body_src: str = "text",
) -> str:
    """Top-k BM25 oracle: SELECT doc_id, score (round 4, desc, doc_id asc).

    ``extra_where`` ANDs an additional doc-level predicate into the match —
    the mirror of engine-side tombstones (doc_id NOT IN (...)) and fact sets
    (epoch-frozen stats: the predicate filters RESULTS, never df/avgdl).
    ``offset`` skips the first rows of the total order — the mirror of
    search_after pagination (page n+1 ≡ OFFSET n·k, since the order is
    total on (rounded score, doc_id)).
    ``similarity`` mirrors the engine's query-time scoring flavor
    (plans/scoring.py): "bm25" (default), "classic", "boolean"."""
    config = config or BuildConfig()
    plan = as_plan(query)
    extra = f" AND ({extra_where})" if extra_where else ""
    off = f" OFFSET {int(offset)}" if offset else ""
    return (
        f"WITH {corpus_cte(config.analyzer, body_src)},\n"
        f"{_hits_cte(plan, config, similarity=similarity)}\n"
        f"SELECT h.doc_id AS doc_id, round(h.score, 4) AS score\n"
        f"FROM hits h\nWHERE ({_bool_sql(plan.ast)}){extra}\n"
        f"ORDER BY round(h.score, 4) DESC, h.doc_id ASC\nLIMIT {k}{off}"
    )


def oracle_match_sql(query, config: BuildConfig | None = None) -> str:
    """Unscored full match set oracle: SELECT doc_id."""
    config = config or BuildConfig()
    plan = as_plan(query)
    return (
        f"WITH {corpus_cte(config.analyzer)},\n{_hits_cte(plan, config)}\n"
        f"SELECT h.doc_id AS doc_id\nFROM hits h\nWHERE {_bool_sql(plan.ast)}\n"
        f"ORDER BY h.doc_id ASC"
    )


# ---------------------------------------------------------------------------
# serving-layer oracles (plans/serving.py)

def oracle_facets_sql(
    query, facets: tuple[str, ...] = ("lang", "repo"),
    config: BuildConfig | None = None, extra_where: str | None = None,
) -> str:
    """Facet-count oracle: SELECT facet, value, n_docs over the match set.

    Facet names map to documents columns (lang -> lang, repo -> source),
    mirroring sources/corpus.corpus_from_documents. ``extra_where`` ANDs a
    doc-level predicate into the match — the mirror of engine-side range
    filters (run_aggs' restricted index copy)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col_of = {"lang": "lang", "repo": "source"}
    parts = [
        f"SELECT '{f}' AS facet, d.{col_of[f]} AS value, count(*) AS n_docs\n"
        f"  FROM m JOIN documents d USING (doc_id) GROUP BY d.{col_of[f]}"
        for f in facets
    ]
    union = "\n  UNION ALL\n".join(parts)
    extra = f" AND ({extra_where})" if extra_where else ""
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE ({_bool_sql(plan.ast)}){extra})\n"
        f"SELECT * FROM (\n{union}\n)\n"
        f"ORDER BY facet ASC, n_docs DESC, value ASC"
    )


def oracle_rare_terms_sql(
    query, by: str = "repo", max_doc_count: int = 1,
    config: BuildConfig | None = None,
) -> str:
    """rare_terms oracle: SELECT value, n_docs (n_docs <= max_doc_count,
    ordered n_docs asc, value asc)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col = {"lang": "lang", "repo": "source"}[by]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT d.{col} AS value, count(*) AS n_docs\n"
        f"FROM m JOIN documents d USING (doc_id)\n"
        f"GROUP BY d.{col} HAVING count(*) <= {int(max_doc_count)}\n"
        f"ORDER BY n_docs ASC, value ASC"
    )


def oracle_multi_terms_sql(
    query, by: tuple[str, ...] = ("lang", "repo"), size: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """multi_terms oracle: SELECT <by...>, n_docs (n_docs desc, keys asc,
    LIMIT size)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col_of = {"lang": "lang", "repo": "source"}
    sel = ", ".join(f"d.{col_of[f]} AS {f}" for f in by)
    grp = ", ".join(f"d.{col_of[f]}" for f in by)
    order = ", ".join(f"{f} ASC" for f in by)
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT {sel}, count(*) AS n_docs\n"
        f"FROM m JOIN documents d USING (doc_id)\n"
        f"GROUP BY {grp}\n"
        f"ORDER BY n_docs DESC, {order}\nLIMIT {int(size)}"
    )


def oracle_facet_ranges_sql(
    query, edges: tuple[int, ...] = (0, 24, 48, 96, 192),
    config: BuildConfig | None = None,
) -> str:
    """Range-aggregation oracle mirroring plans/serving.facet_ranges:
    bucket_lo = largest edge <= body doclen, counts over the match set."""
    config = config or BuildConfig()
    plan = as_plan(query)
    edges = tuple(sorted(int(e) for e in edges))
    whens = " ".join(
        f"WHEN coalesce(dl.doclen, 0) >= {lo} THEN CAST({lo} AS INT)"
        for lo in sorted(edges, reverse=True)
    )
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT bucket_lo, count(*)::BIGINT AS n_docs FROM (\n"
        f"  SELECT CASE {whens} END AS bucket_lo\n"
        f"  FROM m LEFT JOIN dl USING (doc_id)\n"
        f") WHERE bucket_lo IS NOT NULL GROUP BY bucket_lo ORDER BY bucket_lo"
    )


def oracle_histogram_sql(
    query, interval: int = 32, config: BuildConfig | None = None
) -> str:
    """Fixed-interval histogram oracle mirroring plans/serving.histogram:
    bucket = floor(doclen / interval) · interval over the match set."""
    config = config or BuildConfig()
    plan = as_plan(query)
    iv = int(interval)
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT CAST(floor(coalesce(dl.doclen, 0) / {iv}) * {iv} AS BIGINT) AS bucket,\n"
        f"       count(*)::BIGINT AS n_docs\n"
        f"FROM m LEFT JOIN dl USING (doc_id)\n"
        f"GROUP BY bucket ORDER BY bucket"
    )


def oracle_extended_stats_sql(query, config: BuildConfig | None = None) -> str:
    """extended_stats oracle mirroring plans/serving.extended_stats: exact
    int64 sum / sum-of-squares over the match set, then avg/var/std derived
    with the SAME float64 op order (var = sumsq/n − (sum/n)·(sum/n))."""
    config = config or BuildConfig()
    plan = as_plan(query)
    mean = "(CAST(sum_doclen AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    var = f"(CAST(sum_sq AS DOUBLE) / CAST(n_docs AS DOUBLE) - {mean} * {mean})"
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
        f"a AS (\n"
        f"  SELECT count(*)::BIGINT AS n_docs,\n"
        f"         sum(coalesce(dl.doclen, 0))::BIGINT AS sum_doclen,\n"
        f"         min(coalesce(dl.doclen, 0))::BIGINT AS min_doclen,\n"
        f"         max(coalesce(dl.doclen, 0))::BIGINT AS max_doclen,\n"
        f"         sum(coalesce(dl.doclen, 0) * coalesce(dl.doclen, 0))::BIGINT AS sum_sq\n"
        f"  FROM m LEFT JOIN dl USING (doc_id)\n"
        f")\n"
        f"SELECT n_docs, sum_doclen, min_doclen, max_doclen, sum_sq,\n"
        f"       round({mean}, 4) AS avg_doclen,\n"
        f"       round({var}, 4) AS var_doclen,\n"
        f"       round(sqrt({var}), 4) AS std_doclen\n"
        f"FROM a"
    )


def oracle_significant_terms_sql(
    query, k: int = 20, min_fg_df: int = 2, config: BuildConfig | None = None
) -> str:
    """significant_terms oracle mirroring plans/serving.significant_terms:
    lift = (fg_df/F) / (bg_df/N), rounded 4 dp, top k by (lift desc, term)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
        f"fg AS (SELECT term, count(DISTINCT doc_id) AS fg_df\n"
        f"       FROM body_tok JOIN m USING (doc_id) GROUP BY term\n"
        f"       HAVING count(DISTINCT doc_id) >= {int(min_fg_df)}),\n"
        f"bg AS (SELECT term, count(DISTINCT doc_id) AS bg_df FROM body_tok GROUP BY term),\n"
        f"nm AS (SELECT count(*) AS n FROM m)\n"
        f"SELECT fg.term AS term, fg.fg_df::BIGINT AS fg_df, bg.bg_df::BIGINT AS bg_df,\n"
        f"  round((fg.fg_df / CAST(nm.n AS DOUBLE)) / (bg.bg_df / CAST(meta.n_docs AS DOUBLE)), 4) AS lift\n"
        f"FROM fg JOIN bg USING (term) CROSS JOIN nm CROSS JOIN meta\n"
        f"ORDER BY lift DESC, term ASC LIMIT {int(k)}"
    )


def oracle_explain_sql(query, k: int = 10, config: BuildConfig | None = None) -> str:
    """Explain oracle mirroring plans/serving.explain: one row per
    (top-k doc, scoring key present), contribution = idf(·boost)·partial,
    rounded 4 dp."""
    config = config or BuildConfig()
    plan = as_plan(query)
    k1, b = config.bm25.k1, config.bm25.b
    scoring = sorted(plan.scoring_keys)
    scoring_list = ", ".join(_q(f"{s}:{t}") for s, t in scoring)
    boost_sql = ""
    if getattr(plan, "boosts", None):
        whens = " ".join(
            f"WHEN {_q(f'{s}:{t}')} THEN {float(f)!r}"
            for (s, t), f in sorted(plan.boosts.items())
        )
        boost_sql = f"* CASE (t.stream || ':' || t.term) {whens} ELSE 1.0 END "
    return f"""WITH {CORPUS_CTE},
{_hits_cte(plan, config)},
topk AS (SELECT h.doc_id, round(h.score, 4) AS score FROM hits h
         WHERE ({_bool_sql(plan.ast)})
         ORDER BY round(h.score, 4) DESC, h.doc_id ASC LIMIT {int(k)})
SELECT t.doc_id, tk.score, t.stream, t.term, t.tf,
       round(ln((meta.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) {boost_sql}
             * (t.tf * {k1 + 1.0!r} / (t.tf + {k1!r} * (1.0 - {b!r} + {b!r}
             * coalesce(dl.doclen, 0) / meta.avgdl))), 4) AS contribution
FROM tf t
JOIN topk tk ON t.doc_id = tk.doc_id
JOIN dfreq ON dfreq.stream = t.stream AND dfreq.term = t.term
LEFT JOIN dl ON t.doc_id = dl.doc_id
CROSS JOIN meta
WHERE (t.stream || ':' || t.term) IN ({scoring_list})
ORDER BY tk.score DESC, t.doc_id ASC, t.stream ASC, t.term ASC"""


def oracle_hybrid_sql(
    query, query_vec_id: int, k: int = 10, k_each: int = 20, rrf_k: int = 60,
    config: BuildConfig | None = None,
) -> str:
    """RRF hybrid-search oracle mirroring plans/serving.hybrid_search:
    BM25 top-k_each fused with exact-cosine top-k_each of the query
    vector, rrf = Σ 1/(rrf_k + rank), NULL rank when absent from a list."""
    config = config or BuildConfig()
    plan = as_plan(query)
    qid = int(query_vec_id)
    return f"""WITH {CORPUS_CTE},
{_hits_cte(plan, config)},
bm0 AS (SELECT h.doc_id, round(h.score, 4) AS score FROM hits h
        WHERE ({_bool_sql(plan.ast)})
        ORDER BY round(h.score, 4) DESC, h.doc_id ASC LIMIT {int(k_each)}),
bm AS (SELECT doc_id,
              row_number() OVER (ORDER BY score DESC, doc_id ASC) AS bm25_rank
       FROM bm0),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT v FROM e WHERE vec_id = {qid}),
cs0 AS (SELECT e.vec_id AS doc_id,
               round(list_dot_product(qv.v, e.v) /
                     (sqrt(list_dot_product(qv.v, qv.v))
                      * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
        FROM e CROSS JOIN qv WHERE e.vec_id <> {qid}
        ORDER BY cosine DESC, doc_id ASC LIMIT {int(k_each)}),
ct AS (SELECT doc_id,
              row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS cos_rank
       FROM cs0),
f AS (SELECT coalesce(bm.doc_id, ct.doc_id) AS doc_id,
             round(coalesce(1.0 / ({int(rrf_k)} + bm.bm25_rank), 0)
                   + coalesce(1.0 / ({int(rrf_k)} + ct.cos_rank), 0), 6) AS rrf,
             coalesce(bm.bm25_rank, 0) AS bm25_rank,
             coalesce(ct.cos_rank, 0) AS cos_rank
      FROM bm FULL OUTER JOIN ct ON bm.doc_id = ct.doc_id)
SELECT doc_id, rrf, bm25_rank, cos_rank FROM f
ORDER BY rrf DESC, doc_id ASC LIMIT {int(k)}"""


def oracle_facet_stats_sql(
    query, by: str = "lang", config: BuildConfig | None = None
) -> str:
    """Per-facet doclen statistics oracle mirroring
    plans/serving.facet_stats; ``by`` maps like facets (repo -> source)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col = {"lang": "lang", "repo": "source"}[by]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT d.{col} AS {by}, count(*) AS n_docs,\n"
        f"       CAST(sum(coalesce(dl.doclen, 0)) AS BIGINT) AS sum_doclen,\n"
        f"       round(avg(coalesce(dl.doclen, 0)), 4) AS avg_doclen,\n"
        f"       min(coalesce(dl.doclen, 0)) AS min_doclen,\n"
        f"       max(coalesce(dl.doclen, 0)) AS max_doclen\n"
        f"FROM m JOIN documents d USING (doc_id)\n"
        f"LEFT JOIN dl ON m.doc_id = dl.doc_id\n"
        f"GROUP BY d.{col} ORDER BY d.{col} ASC"
    )


def oracle_script_score_sql(
    query, script: str, params: dict | None = None, k: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """Oracle for serving.script_score: the painless-lite script compiled
    to SQL (operators/pipeline_aggs.compile_script_sql — same grammar,
    same rejections) over the full match set's rounded BM25 score and
    coalesced doclen, final round 4 dp, (score desc, doc_id asc), top-k."""
    from bitfunnel_spark.operators.pipeline_aggs import compile_script_sql

    config = config or BuildConfig()
    plan = as_plan(query)
    names = {"_score": "m.s", "doclen": "CAST(coalesce(dl.doclen, 0) AS DOUBLE)"}
    for name, val in (params or {}).items():
        names[name] = repr(float(val))
    expr = compile_script_sql(script, names)
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id, round(h.score, 4) AS s FROM hits h\n"
        f"      WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT m.doc_id AS doc_id, round({expr}, 4) AS score\n"
        f"FROM m LEFT JOIN dl ON m.doc_id = dl.doc_id\n"
        f"ORDER BY round({expr}, 4) DESC, m.doc_id ASC LIMIT {int(k)}"
    )


def oracle_facet_mad_sql(
    query, by: str = "lang", config: BuildConfig | None = None
) -> str:
    """Per-facet exact median-absolute-deviation oracle mirroring
    plans/serving.facet_mad's two-pass shape: group medians (DuckDB
    ``median`` ≡ quantile_cont(0.5) ≡ Spark's exact interpolated
    ``percentile``, the equivalence the percentiles entry already
    certifies), then the median of absolute deviations."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col = {"lang": "lang", "repo": "source"}[by]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
        f"r AS (SELECT d.{col} AS {by}, dl.doclen AS doclen\n"
        f"      FROM m JOIN documents d USING (doc_id)\n"
        f"      JOIN dl ON m.doc_id = dl.doc_id),\n"
        f"med AS (SELECT {by}, median(doclen) AS med FROM r GROUP BY {by})\n"
        f"SELECT r.{by}, count(*) AS n_docs,\n"
        f"       round(median(abs(r.doclen - med.med)), 4) AS mad\n"
        f"FROM r JOIN med USING ({by})\n"
        f"GROUP BY r.{by} ORDER BY r.{by} ASC"
    )


def oracle_facet_percentiles_sql(
    query, by: str = "lang", percents: tuple[float, ...] = (25.0, 50.0, 75.0, 95.0),
    config: BuildConfig | None = None,
) -> str:
    """Per-facet doclen percentiles oracle mirroring
    plans/serving.facet_percentiles (exact mode): DuckDB quantile_cont
    computes the same continuous interpolated definition as Spark's
    percentile."""
    from bitfunnel_spark.plans.serving import _pct_name

    config = config or BuildConfig()
    plan = as_plan(query)
    col = {"lang": "lang", "repo": "source"}[by]
    pcols = ",\n".join(
        f"       round(quantile_cont(CAST(coalesce(dl.doclen, 0) AS DOUBLE), "
        f"{p / 100.0!r}), 4) AS {_pct_name(p)}"
        for p in percents
    )
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT d.{col} AS {by}, count(*) AS n_docs,\n{pcols}\n"
        f"FROM m JOIN documents d USING (doc_id)\n"
        f"LEFT JOIN dl ON m.doc_id = dl.doc_id\n"
        f"GROUP BY d.{col} ORDER BY d.{col} ASC"
    )


def matrix_stats_exprs(pa: str, pb: str) -> dict[str, str]:
    """The matrix_stats derivation formulas as SQL-expression STRINGS over
    an aggregate row (n, sx, sx2, sx3, sx4, sy, ..., sxy) — shared verbatim
    by the Spark engine (F.expr) and the DuckDB oracle, so both sides
    evaluate the literally-same float64 trees over the same exact int64
    sums. sqrt-based throughout (no pow — pow's rounding is not uniform
    across engines); float literals spelled x.0 so both engines promote
    identically. ``pa``/``pb`` are the sum-column prefixes ('x'/'y');
    pa == pb yields the self row (covariance = variance, correlation = 1)."""
    nd = "CAST(n AS DOUBLE)"

    def s(p, k=""):
        return f"CAST(s{p}{k} AS DOUBLE)"

    m = f"({s(pa)} / {nd})"
    m2c = f"({s(pa, '2')} - {s(pa)} * {s(pa)} / {nd})"
    m3c = (f"({s(pa, '3')} - 3.0 * {m} * {s(pa, '2')} "
           f"+ 2.0 * {nd} * {m} * {m} * {m})")
    m4c = (f"({s(pa, '4')} - 4.0 * {m} * {s(pa, '3')} "
           f"+ 6.0 * {m} * {m} * {s(pa, '2')} "
           f"- 3.0 * {nd} * {m} * {m} * {m} * {m})")
    variance = f"({m2c} / ({nd} - 1.0))"
    if pa == pb:
        covariance = variance
        correlation = "CAST(1.0 AS DOUBLE)"
    else:
        m2cb = f"({s(pb, '2')} - {s(pb)} * {s(pb)} / {nd})"
        cxy = f"(CAST(sxy AS DOUBLE) - {s(pa)} * {s(pb)} / {nd})"
        covariance = f"({cxy} / ({nd} - 1.0))"
        correlation = f"({cxy} / sqrt({m2c} * {m2cb}))"
    return {
        "mean": m,
        "variance": variance,
        "skewness": f"(({m3c} / {nd}) / (({m2c} / {nd}) * sqrt({m2c} / {nd})))",
        "kurtosis": f"(({m4c} / {nd}) / (({m2c} / {nd}) * ({m2c} / {nd})))",
        "covariance": covariance,
        "correlation": correlation,
    }


def oracle_matrix_stats_sql(
    query, fields: tuple[str, str] = ("doclen", "chars"),
    config: BuildConfig | None = None,
) -> str:
    """matrix_stats oracle (plans/serving.matrix_stats): exact int64 power
    sums over the match set's (doclen, chars), then the SAME derivation
    strings matrix_stats_exprs hands the engine. doclen comes from the dl
    CTE (the certified body-token counts); chars is length(text)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    a, b = fields
    assert a == "doclen" and b == "chars", fields
    rows = []
    for fa, fb, pa, pb in ((a, a, "x", "x"), (a, b, "x", "y"), (b, b, "y", "y")):
        e = matrix_stats_exprs(pa, pb)
        rows.append(
            f"SELECT '{fa}' AS field_a, '{fb}' AS field_b, n,\n"
            f"  round({e['mean']}, 4) AS mean_a,\n"
            f"  round({e['variance']}, 4) AS variance_a,\n"
            f"  round({e['skewness']}, 4) AS skewness_a,\n"
            f"  round({e['kurtosis']}, 4) AS kurtosis_a,\n"
            f"  round({e['covariance']}, 4) AS covariance,\n"
            f"  round({e['correlation']}, 4) AS correlation FROM s"
        )
    union = "\nUNION ALL\n".join(rows)
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
        f"feat AS (SELECT m.doc_id, dl.doclen AS x, length(d.text) AS y\n"
        f"         FROM m JOIN dl USING (doc_id) JOIN documents d USING (doc_id)),\n"
        f"s AS (SELECT count(*) AS n,\n"
        f"  sum(x) AS sx, sum(x*x) AS sx2, sum(x*x*x) AS sx3,\n"
        f"  sum(x*x*x*x) AS sx4,\n"
        f"  sum(y) AS sy, sum(y*y) AS sy2, sum(y*y*y) AS sy3,\n"
        f"  sum(y*y*y*y) AS sy4, sum(x*y) AS sxy\n"
        f"  FROM feat HAVING count(*) >= 2)\n"
        f"SELECT * FROM ({union})\nORDER BY field_a, field_b"
    )


def oracle_metric_agg_sql(
    query, kind: str = "stats", field: str = "doclen",
    config: BuildConfig | None = None,
) -> str:
    """Top-level leaf-metric oracle (plans/serving.metric_agg): one global
    aggregate over the match set's doclen (dl CTE) or chars
    (length(text)). Sums cast ::BIGINT (DuckDB HUGEINT -> engine int64);
    avg derives from the exact integer sums with one float64 divide."""
    config = config or BuildConfig()
    plan = as_plan(query)
    v = "dl.doclen" if field == "doclen" else "length(d.text)"
    join = ("m JOIN dl USING (doc_id)" if field == "doclen"
            else "m JOIN documents d USING (doc_id)")
    avg = (f"round(CAST(sum({v}) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)")
    if kind == "stats":
        sel = (f"count(*) AS n_docs, min({v}) AS min_val, max({v}) AS max_val,\n"
               f"  CAST(sum({v}) AS BIGINT) AS sum_val, {avg} AS avg_val")
    elif kind == "avg":
        sel = f"count(*) AS n_docs, {avg} AS value"
    elif kind == "sum":
        sel = f"count(*) AS n_docs, CAST(sum({v}) AS BIGINT) AS value"
    elif kind in ("min", "max"):
        sel = f"count(*) AS n_docs, {kind}({v}) AS value"
    elif kind == "value_count":
        sel = f"count(*) AS n_docs, count({v}) AS value"
    else:
        raise ValueError(f"no oracle for metric kind {kind!r}")
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT {sel}\nFROM {join}"
    )


def oracle_collapse_sql(
    query, by: str = "repo", k: int = 10, per_group: int = 1,
    config: BuildConfig | None = None,
) -> str:
    """Field-collapse oracle mirroring plans/serving.collapse_topk: best
    ``per_group`` docs per ``by``-group over the full scored match set,
    then global top-k. ``by`` maps to documents columns like facets
    (repo -> source, lang -> lang)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col = {"lang": "lang", "repo": "source"}[by]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id, round(h.score, 4) AS score FROM hits h\n"
        f"      WHERE ({_bool_sql(plan.ast)})),\n"
        f"g AS (SELECT m.doc_id, m.score, d.{col} AS {by},\n"
        f"             row_number() OVER (PARTITION BY d.{col}\n"
        f"               ORDER BY m.score DESC, m.doc_id ASC) AS rn\n"
        f"      FROM m JOIN documents d USING (doc_id))\n"
        f"SELECT doc_id, score, {by} FROM g WHERE rn <= {int(per_group)}\n"
        f"ORDER BY score DESC, doc_id ASC LIMIT {int(k)}"
    )


def oracle_phrase_prefix_sql(
    tokens: tuple[str, ...],
    prefix: str,
    k: int = 10,
    max_expansions: int = 64,
    config: BuildConfig | None = None,
) -> str:
    """Top-k BM25 oracle for a body-stream match_phrase_prefix query
    (ast.PhrasePrefix): the prefix expands in-DuckDB against dfreq with the
    engine's (df desc, term asc) cap, a doc matches when the fixed tokens
    are adjacent and the NEXT position holds any expanded term, and scoring
    is the OR-of-phrases convention — BM25 summed over every scoring term
    (fixed tokens ∪ expansions) present in a matching document."""
    config = config or BuildConfig()
    k1, b = config.bm25.k1, config.bm25.b
    m = len(tokens)
    assert m >= 1 and prefix
    ptok = (
        f"(SELECT doc_id, unnest(regexp_extract_all(body_text, '{_PAT}')) AS t, "
        f"unnest(range(1, len(regexp_extract_all(body_text, '{_PAT}')) + 1)) AS p "
        f"FROM corpus)"
    )
    joins = [f"{ptok} p1"]
    conds = [f"p1.t = {_q(tokens[0])}"]
    for j in range(2, m + 1):
        joins.append(
            f"JOIN {ptok} p{j} ON p{j}.doc_id = p1.doc_id AND p{j}.p = p1.p + {j - 1}"
        )
        conds.append(f"p{j}.t = {_q(tokens[j - 1])}")
    joins.append(
        f"JOIN {ptok} pe ON pe.doc_id = p1.doc_id AND pe.p = p1.p + {m}"
    )
    conds.append("pe.t IN (SELECT term FROM sel)")
    fixed = ", ".join(_q(t) for t in tokens)
    return f"""WITH {CORPUS_CTE},
sel AS (
  SELECT term FROM dfreq
  WHERE stream = 'body' AND starts_with(term, {_q(prefix)})
  ORDER BY df DESC, term ASC LIMIT {int(max_expansions)}),
pp AS (SELECT DISTINCT p1.doc_id FROM {" ".join(joins)} WHERE {" AND ".join(conds)}),
hits AS (
  SELECT tf.doc_id,
         sum(ln((meta.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
             * (tf.tf * {k1 + 1.0!r} / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r}
             * coalesce(dl.doclen, 0) / meta.avgdl)))) AS score
  FROM tf
  JOIN dfreq USING (stream, term)
  LEFT JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN meta
  WHERE tf.stream = 'body'
    AND (tf.term IN ({fixed}) OR tf.term IN (SELECT term FROM sel))
  GROUP BY tf.doc_id)
SELECT h.doc_id, round(h.score, 4) AS score FROM hits h
WHERE h.doc_id IN (SELECT doc_id FROM pp)
ORDER BY round(h.score, 4) DESC, h.doc_id ASC LIMIT {int(k)}"""


def oracle_sort_hits_sql(
    query, by: str = "doclen", ascending: bool = False, k: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """Field-sort oracle mirroring plans/serving.sort_hits: the match set
    ordered by doclen (body token count, 0 for docs with no body tokens)
    or a documents metadata column (repo -> source, lang -> lang), ties
    doc_id asc, top-k."""
    config = config or BuildConfig()
    plan = as_plan(query)
    direction = "ASC" if ascending else "DESC"
    head = (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
    )
    if by == "doclen":
        return (
            head
            + "SELECT m.doc_id, coalesce(dl.doclen, 0) AS doclen\n"
            + "FROM m LEFT JOIN dl ON m.doc_id = dl.doc_id\n"
            + f"ORDER BY coalesce(dl.doclen, 0) {direction}, m.doc_id ASC LIMIT {int(k)}"
        )
    col = {"lang": "lang", "repo": "source"}[by]
    return (
        head
        + f"SELECT m.doc_id, d.{col} AS {by}\n"
        + "FROM m JOIN documents d USING (doc_id)\n"
        + f"ORDER BY d.{col} {direction}, m.doc_id ASC LIMIT {int(k)}"
    )


def oracle_function_score_sql(
    query, field: str = "doclen", modifier: str = "log1p", factor: float = 1.0,
    boost_mode: str = "multiply", k: int = 10, config: BuildConfig | None = None,
) -> str:
    """Oracle for serving.function_score: BM25 (rounded 4 dp, same as the
    engine's scored_matches contract) combined with modifier(factor·field)
    over the full match set, final round 4 dp, (score desc, doc_id asc),
    top-k. ``field`` supports doclen (coalesced to 0, as the engine's left
    join does)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    if field != "doclen":
        raise ValueError("oracle supports field='doclen'")
    v = f"({float(factor)} * CAST(coalesce(dl.doclen, 0) AS DOUBLE))"
    fn = {
        "none": v,
        "log1p": f"log10(1.0 + {v})",
        "ln1p": f"ln(1.0 + {v})",
        "sqrt": f"sqrt({v})",
        "square": f"({v} * {v})",
    }[modifier]
    comb = {
        "multiply": f"(m.s * {fn})",
        "sum": f"(m.s + {fn})",
        "replace": fn,
    }[boost_mode]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id, round(h.score, 4) AS s FROM hits h\n"
        f"      WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT m.doc_id AS doc_id, round({comb}, 4) AS score\n"
        f"FROM m LEFT JOIN dl ON m.doc_id = dl.doc_id\n"
        f"ORDER BY round({comb}, 4) DESC, m.doc_id ASC LIMIT {int(k)}"
    )


def oracle_span_first_sql(
    query, term: str, end: int, k: int = 10, config: BuildConfig | None = None,
) -> str:
    """Oracle for serving.span_first: the BM25 top-k of ``query`` over
    documents whose first body occurrence of ``term`` sits within the
    first ``end`` tokens (1-based list_position BETWEEN 1 AND end ≡ the
    engine's 0-based first position < end)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    span = (
        f"h.doc_id IN (SELECT doc_id FROM corpus WHERE "
        f"list_position(regexp_extract_all(body_text, '{_PAT}'), {_q(term.lower())}) "
        f"BETWEEN 1 AND {int(end)})"
    )
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)}\n"
        f"SELECT h.doc_id AS doc_id, round(h.score, 4) AS score\n"
        f"FROM hits h\nWHERE ({_bool_sql(plan.ast)}) AND {span}\n"
        f"ORDER BY round(h.score, 4) DESC, h.doc_id ASC\nLIMIT {int(k)}"
    )


def oracle_boosting_sql(
    positive, negative, negative_boost: float = 0.5, k: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """Oracle for serving.boosting_query: positive match set with BM25
    (rounded 4 dp) multiplied by negative_boost where the doc also matches
    the negative query, final round 4 dp, top-k."""
    config = config or BuildConfig()
    pos = as_plan(positive)
    neg = as_plan(negative)
    comb = (
        f"round(CASE WHEN ({_bool_sql(neg.ast)}) "
        f"THEN round(h.score, 4) * {float(negative_boost)} "
        f"ELSE round(h.score, 4) END, 4)"
    )
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(pos, config, extra_terms=neg.terms)}\n"
        f"SELECT h.doc_id AS doc_id, {comb} AS score\n"
        f"FROM hits h\nWHERE ({_bool_sql(pos.ast)})\n"
        f"ORDER BY {comb} DESC, h.doc_id ASC\nLIMIT {int(k)}"
    )


def oracle_dis_max_sql(
    clauses: list, tie_breaker: float = 0.0, k: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """Oracle for serving.dis_max: per-clause full-match scored sets
    (each an independent WITH-scoped subquery — DuckDB allows a WITH
    inside a derived table) full-outer-joined on doc_id; the combination
    max + tie·(sum − max) folds clauses in the same fixed order as the
    engine."""
    config = config or BuildConfig()
    plans = [as_plan(q) for q in clauses]
    subs = []
    for i, plan in enumerate(plans):
        subs.append(
            f"(WITH {CORPUS_CTE},\n{_hits_cte(plan, config)}\n"
            f"SELECT h.doc_id AS doc_id, round(h.score, 4) AS s{i}\n"
            f"FROM hits h\nWHERE {_bool_sql(plan.ast)}) c{i}"
        )
    joined = subs[0]
    for i in range(1, len(subs)):
        joined += f"\nFULL JOIN {subs[i]} USING (doc_id)"
    cs = [f"coalesce(s{i}, 0.0)" for i in range(len(plans))]
    best = cs[0]
    for c in cs[1:]:
        best = f"greatest({best}, {c})"
    total = cs[0]
    for c in cs[1:]:
        total = f"({total} + {c})"
    comb = f"round({best} + {float(tie_breaker)} * ({total} - {best}), 4)"
    return (
        f"SELECT doc_id, {comb} AS score\nFROM {joined}\n"
        f"ORDER BY {comb} DESC, doc_id ASC LIMIT {int(k)}"
    )


def oracle_rescore_sql(
    query, rescore_query, window_size: int = 100, query_weight: float = 1.0,
    rescore_weight: float = 1.0, score_mode: str = "total", k: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """Oracle for serving.rescore: the primary top-window (same total
    (rounded score desc, doc_id asc) order as the engine) left-joined to
    the rescore arm's full scored match set, Lucene combine rules,
    final round 4 dp, top-k."""
    config = config or BuildConfig()
    pos = as_plan(query)
    sec = as_plan(rescore_query)
    win = (
        f"(WITH {CORPUS_CTE},\n{_hits_cte(pos, config)}\n"
        f"SELECT h.doc_id AS doc_id, round(h.score, 4) AS p\n"
        f"FROM hits h\nWHERE {_bool_sql(pos.ast)}\n"
        f"ORDER BY round(h.score, 4) DESC, h.doc_id ASC "
        f"LIMIT {int(window_size)}) w"
    )
    arm = (
        f"(WITH {CORPUS_CTE},\n{_hits_cte(sec, config)}\n"
        f"SELECT h.doc_id AS doc_id, round(h.score, 4) AS s\n"
        f"FROM hits h\nWHERE {_bool_sql(sec.ast)}) r"
    )
    qp = f"({float(query_weight)} * p)"
    rs = f"({float(rescore_weight)} * s)"
    matched = {
        "total": f"({qp} + {rs})",
        "multiply": f"({qp} * {rs})",
        "avg": f"(({qp} + {rs}) / 2.0)",
        "max": f"greatest({qp}, {rs})",
        "min": f"least({qp}, {rs})",
    }[score_mode]
    comb = f"round(CASE WHEN s IS NOT NULL THEN {matched} ELSE {qp} END, 4)"
    return (
        f"SELECT w.doc_id AS doc_id, {comb} AS score\n"
        f"FROM {win} LEFT JOIN {arm} USING (doc_id)\n"
        f"ORDER BY {comb} DESC, w.doc_id ASC LIMIT {int(k)}"
    )


def oracle_decay_score_sql(
    query, origin: float, scale: float, kind: str = "gauss",
    offset: float = 0.0, decay: float = 0.5, boost_mode: str = "multiply",
    k: int = 10, config: BuildConfig | None = None,
) -> str:
    """Oracle for serving.decay_score (field=doclen): the same closed-form
    ES decay formulas over max(0, |doclen - origin| - offset), combined
    with the rounded BM25 score, final round 4 dp, top-k."""
    import math

    config = config or BuildConfig()
    plan = as_plan(query)
    d = (
        f"greatest(0.0, abs(CAST(coalesce(dl.doclen, 0) AS DOUBLE)"
        f" - {float(origin)}) - {float(offset)})"
    )
    if kind == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * math.log(float(decay)))
        fn = f"exp(-({d} * {d}) / {2.0 * sigma2})"
    elif kind == "exp":
        lam = math.log(float(decay)) / float(scale)
        fn = f"exp({lam} * {d})"
    elif kind == "linear":
        s = float(scale) / (1.0 - float(decay))
        fn = f"greatest(0.0, ({s} - {d}) / {s})"
    else:
        raise ValueError(f"unknown decay kind {kind!r}")
    comb = {
        "multiply": f"(m.s * {fn})",
        "sum": f"(m.s + {fn})",
        "replace": fn,
    }[boost_mode]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id, round(h.score, 4) AS s FROM hits h\n"
        f"      WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT m.doc_id AS doc_id, round({comb}, 4) AS score\n"
        f"FROM m LEFT JOIN dl ON m.doc_id = dl.doc_id\n"
        f"ORDER BY round({comb}, 4) DESC, m.doc_id ASC LIMIT {int(k)}"
    )


def oracle_cardinality_sql(
    query, by: str = "lang", of: str = "repo",
    config: BuildConfig | None = None,
) -> str:
    """Per-bucket cardinality oracle mirroring plans/serving.
    facet_cardinality(exact=True): per ``by``-bucket matching-doc count
    and distinct ``of``-values. Columns map like facets (repo -> source)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    cols = {"lang": "lang", "repo": "source"}
    bcol, ocol = cols[by], cols[of]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT d.{bcol} AS {by}, count(*) AS n_docs,\n"
        f"       count(DISTINCT d.{ocol}) AS cardinality\n"
        f"FROM m JOIN documents d USING (doc_id)\n"
        f"GROUP BY d.{bcol} ORDER BY d.{bcol} ASC"
    )


def oracle_top_hits_sql(
    query, by: str = "lang", per_group: int = 3,
    config: BuildConfig | None = None,
) -> str:
    """Per-bucket top-hits oracle mirroring plans/serving.top_hits: every
    ``by``-bucket of the match set with its doc count and its best
    ``per_group`` docs by (score desc, doc_id asc). ``by`` maps to
    documents columns like facets (repo -> source, lang -> lang)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col = {"lang": "lang", "repo": "source"}[by]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id, round(h.score, 4) AS score FROM hits h\n"
        f"      WHERE ({_bool_sql(plan.ast)})),\n"
        f"g AS (SELECT m.doc_id, m.score, d.{col} AS {by}\n"
        f"      FROM m JOIN documents d USING (doc_id)),\n"
        f"c AS (SELECT {by}, count(*) AS n_docs FROM g GROUP BY {by}),\n"
        f"r AS (SELECT {by}, doc_id, score,\n"
        f"             row_number() OVER (PARTITION BY {by}\n"
        f"               ORDER BY score DESC, doc_id ASC) AS hit_rank\n"
        f"      FROM g)\n"
        f"SELECT r.{by} AS {by}, c.n_docs, r.hit_rank, r.doc_id, r.score\n"
        f"FROM r JOIN c USING ({by}) WHERE r.hit_rank <= {int(per_group)}\n"
        f"ORDER BY c.n_docs DESC, r.{by} ASC, r.hit_rank ASC"
    )


def oracle_snippets_sql(
    query, k: int = 10, window: int = 4, config: BuildConfig | None = None
) -> str:
    """Snippet oracle mirroring plans/serving.snippets: token window of
    ±window around the first body occurrence of the rarest (df asc, term
    asc) scoring term present in each top-k document."""
    config = config or BuildConfig()
    plan = as_plan(query)
    terms = sorted(plan.scoring_terms)
    topk = (
        f"topk AS (\n  SELECT h.doc_id, round(h.score, 4) AS score FROM hits h\n"
        f"  WHERE ({_bool_sql(plan.ast)})\n"
        f"  ORDER BY round(h.score, 4) DESC, h.doc_id ASC LIMIT {k})"
    )
    if not terms:
        return (
            f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n{topk}\n"
            f"SELECT doc_id, score, '' AS snippet FROM topk\n"
            f"ORDER BY score DESC, doc_id ASC"
        )
    vals = ", ".join(f"({_q(t)})" for t in terms)
    return f"""WITH {CORPUS_CTE},
{_hits_cte(plan, config)},
{topk},
tkn AS (SELECT c.doc_id, regexp_extract_all(c.body_text, '{_PAT}') AS toks
        FROM corpus c JOIN topk USING (doc_id)),
qterms(term) AS (VALUES {vals}),
cand AS (
  SELECT t.doc_id, f.df, q.term, list_position(t.toks, q.term) AS pos
  FROM tkn t CROSS JOIN qterms q
  JOIN dfreq f ON f.stream = 'body' AND f.term = q.term
  WHERE list_position(t.toks, q.term) > 0),
pick AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY doc_id ORDER BY df ASC, term ASC) AS rn
    FROM cand) WHERE rn = 1)
SELECT tk2.doc_id AS doc_id, tk2.score AS score,
       coalesce(array_to_string(
         t.toks[greatest(1, p.pos - {window}):(p.pos + {window})], ' '), '') AS snippet
FROM topk tk2
LEFT JOIN pick p ON tk2.doc_id = p.doc_id
LEFT JOIN tkn t ON tk2.doc_id = t.doc_id
ORDER BY tk2.score DESC, tk2.doc_id ASC"""


def oracle_mlt_sql(
    doc_id: int, k: int = 10, m: int = 8, config: BuildConfig | None = None
) -> str:
    """More-like-this oracle mirroring plans/serving.more_like_this: the
    source document's m highest tf*idf body terms (ties term asc) scored
    as a BM25 OR query, source doc excluded."""
    config = config or BuildConfig()
    k1, b = config.bm25.k1, config.bm25.b
    return f"""WITH {CORPUS_CTE},
src AS (SELECT term, count(*) AS tf FROM body_tok WHERE doc_id = {int(doc_id)} GROUP BY term),
sel AS (
  SELECT s.term FROM src s
  JOIN dfreq f ON f.stream = 'body' AND f.term = s.term
  CROSS JOIN meta
  ORDER BY s.tf * ln((meta.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) DESC, s.term ASC
  LIMIT {int(m)}),
hits AS (
  SELECT tf.doc_id,
         sum(ln((meta.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
             * (tf.tf * {k1 + 1.0!r} / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r}
             * coalesce(dl.doclen, 0) / meta.avgdl)))) AS score
  FROM tf
  JOIN dfreq USING (stream, term)
  LEFT JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN meta
  WHERE tf.stream = 'body' AND tf.term IN (SELECT term FROM sel)
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 4) AS score FROM hits
WHERE doc_id <> {int(doc_id)}
ORDER BY round(score, 4) DESC, doc_id ASC LIMIT {int(k)}"""


def oracle_expansion_search_sql(
    term_predicate_sql: str,
    k: int = 10,
    max_expansions: int = 64,
    config: BuildConfig | None = None,
    extra_terms: tuple[str, ...] = (),
) -> str:
    """Top-k BM25 oracle for a dictionary-expanded query (plans/expand.py):
    ``term_predicate_sql`` selects the matching body terms from dfreq (e.g.
    ``term LIKE 's%'`` or ``levenshtein(term, 'vektor') <= 1``), capped like
    the engine at ``max_expansions`` preferring (df desc, term asc); the
    selected terms score as one OR query. ``extra_terms`` adds fixed
    (already-analyzed) body terms OUTSIDE the expansion cap — the
    match_bool_prefix shape: literal tokens OR a trailing prefix."""
    config = config or BuildConfig()
    k1, b = config.bm25.k1, config.bm25.b
    extra_sql = "".join(
        "\n  UNION SELECT '" + t.replace("'", "''") + "'" for t in extra_terms
    )
    return f"""WITH {CORPUS_CTE},
sel AS (
  SELECT term FROM (
    SELECT term FROM dfreq WHERE stream = 'body' AND ({term_predicate_sql})
    ORDER BY df DESC, term ASC LIMIT {int(max_expansions)}){extra_sql}),
hits AS (
  SELECT tf.doc_id,
         sum(ln((meta.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
             * (tf.tf * {k1 + 1.0!r} / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r}
             * coalesce(dl.doclen, 0) / meta.avgdl)))) AS score
  FROM tf
  JOIN dfreq USING (stream, term)
  LEFT JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN meta
  WHERE tf.stream = 'body' AND tf.term IN (SELECT term FROM sel)
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 4) AS score FROM hits
ORDER BY round(score, 4) DESC, doc_id ASC LIMIT {int(k)}"""


def _plans_and_extra(filters: dict[str, str]):
    names = sorted(filters)
    plans = {n: as_plan(filters[n]) for n in names}
    extra: set[tuple[str, str]] = set()
    for n in names[1:]:
        extra |= plans[n].terms
    return names, plans, extra


def oracle_filters_agg_sql(
    filters: dict[str, str], config: BuildConfig | None = None
) -> str:
    """filters-agg oracle mirroring plans/serving.filters_agg: one count
    per named query over the shared hits CTE (every bucket present, 0 when
    empty)."""
    config = config or BuildConfig()
    names, plans, extra = _plans_and_extra(filters)
    selects = [
        f"SELECT {_q(n)} AS name, (SELECT count(*) FROM hits h "
        f"WHERE {_bool_sql(plans[n].ast)})::BIGINT AS n_docs"
        for n in names
    ]
    return (
        f"WITH {CORPUS_CTE},\n"
        f"{_hits_cte(plans[names[0]], config, extra_terms=extra)}\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY name"
    )


def oracle_adjacency_sql(
    filters: dict[str, str], config: BuildConfig | None = None
) -> str:
    """adjacency_matrix oracle mirroring plans/serving.adjacency_matrix:
    pairwise (a <= b, diagonal included) intersection counts, only
    non-empty buckets."""
    config = config or BuildConfig()
    names, plans, extra = _plans_and_extra(filters)
    selects = []
    for i, a in enumerate(names):
        for b in names[i:]:
            selects.append(
                f"SELECT {_q(a)} AS a, {_q(b)} AS b, "
                f"(SELECT count(*) FROM hits h WHERE ({_bool_sql(plans[a].ast)}) "
                f"AND ({_bool_sql(plans[b].ast)}))::BIGINT AS n_docs"
            )
    return (
        f"WITH {CORPUS_CTE},\n"
        f"{_hits_cte(plans[names[0]], config, extra_terms=extra)}\n"
        f"SELECT * FROM (\n" + "\nUNION ALL\n".join(selects) + "\n) u\n"
        f"WHERE n_docs > 0 ORDER BY a, b"
    )


def oracle_matched_queries_sql(
    query, named: dict[str, str], k: int = 10,
    config: BuildConfig | None = None, matched_as_string: bool = False,
) -> str:
    """matched_queries oracle mirroring plans/serving.matched_queries: the
    main query's top-k (oracle_search_sql semantics) annotated with the
    sorted list of named clauses each hit also matches ([] when none).

    ``matched_as_string`` emits the annotation as a comma-joined string
    instead of a list — the driver's pandas canonicalizer can't hash
    array<string> columns (VERDICT r04), so the registry entry uses the
    string form; tests keep the list form for API fidelity."""
    config = config or BuildConfig()
    plan = as_plan(query)
    names, plans, _ = _plans_and_extra(named)
    extra: set[tuple[str, str]] = set()
    for n in names:
        extra |= plans[n].terms
    cases = ", ".join(
        f"CASE WHEN {_bool_sql(plans[n].ast)} THEN {_q(n)} END" for n in names
    )
    matched = f"list_sort(list_filter([{cases}], x -> x IS NOT NULL))"
    if matched_as_string:
        # coalesce: DuckDB's array_to_string yields NULL on the empty
        # list where Spark's array_join yields ''
        matched = f"coalesce(array_to_string({matched}, ','), '')"
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config, extra_terms=extra)},\n"
        f"topk AS (\n"
        f"  SELECT h.doc_id, round(h.score, 4) AS score FROM hits h\n"
        f"  WHERE ({_bool_sql(plan.ast)})\n"
        f"  ORDER BY round(h.score, 4) DESC, h.doc_id ASC LIMIT {int(k)}\n"
        f")\n"
        f"SELECT t.doc_id AS doc_id, t.score AS score,\n"
        f"       {matched} AS matched\n"
        f"FROM topk t JOIN hits h USING (doc_id)\n"
        f"ORDER BY t.score DESC, t.doc_id ASC"
    )


def oracle_composite_sql(
    query, by: tuple[str, ...] = ("lang", "repo"), size: int = 10,
    after: tuple | None = None, config: BuildConfig | None = None,
) -> str:
    """composite-agg oracle mirroring plans/serving.composite_agg:
    match-set bucket counts over corpus metadata, after-key paginated.
    Metadata mapping mirrors sources/corpus.corpus_from_documents
    (repo <- source, lang <- lang)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    mcol = {"lang": "d.lang", "repo": "d.source"}
    sel = ", ".join(f"{mcol[c]} AS {c}" for c in by)
    where = ""
    if after is not None:
        ors = []
        for i in range(len(by)):
            parts = [f"{mcol[by[j]]} = {_q(str(after[j]))}" for j in range(i)]
            parts.append(f"{mcol[by[i]]} > {_q(str(after[i]))}")
            ors.append("(" + " AND ".join(parts) + ")")
        where = "WHERE " + " OR ".join(ors) + "\n"
    order = ", ".join(by)
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT {sel}, count(*)::BIGINT AS n_docs\n"
        f"FROM m JOIN documents d USING (doc_id)\n"
        f"{where}GROUP BY ALL ORDER BY {order} LIMIT {int(size)}"
    )


def oracle_random_score_sql(
    query, seed: int = 17, k: int = 10, config: BuildConfig | None = None,
) -> str:
    """random_score oracle mirroring plans/serving.random_score: the same
    int64-safe LCG hash (((doc_id + seed) mod 2^31)·1103515245 + 12345)
    mod 2^31, scaled to [0,1) and rounded 6 dp."""
    config = config or BuildConfig()
    plan = as_plan(query)
    m = 2147483648
    seed = int(seed) % m  # the engine's driver-side normalization (serving.random_score)
    h = f"((((h.doc_id + {int(seed)}) % {m}) * 1103515245 + 12345) % {m})"
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)}\n"
        f"SELECT h.doc_id AS doc_id,\n"
        f"       round(CAST({h} AS DOUBLE) / {m}.0, 6) AS score\n"
        f"FROM hits h WHERE ({_bool_sql(plan.ast)})\n"
        f"ORDER BY score DESC, doc_id ASC LIMIT {int(k)}"
    )


def oracle_span_near_sql(
    terms: list, slop: int = 0, k: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """span_near (unordered) oracle mirroring plans/serving.span_near:
    the all-slots AND query's top-k (oracle_search_sql scoring) restricted
    to docs with one occurrence filling each slot at distinct positions
    with max(p)-min(p) <= (n-1)+slop, any order. A slot may be a list of
    alternative tokens (span_or inside the near): its position joins on
    `t IN (...)` and its scoring group is the OR of the alternatives."""
    config = config or BuildConfig()
    slots = [[x.lower() for x in t] if isinstance(t, (list, tuple))
             else [t.lower()] for t in terms]
    n = len(slots)
    plan = as_plan(" & ".join(
        s[0] if len(s) == 1 else "(" + " | ".join(s) + ")" for s in slots
    ))
    ptok = (
        f"(SELECT doc_id, unnest(regexp_extract_all(body_text, '{_PAT}')) AS t, "
        f"unnest(range(1, len(regexp_extract_all(body_text, '{_PAT}')) + 1)) AS p "
        f"FROM corpus)"
    )

    def _tcond(i: int) -> str:
        s = slots[i - 1]
        if len(s) == 1:
            return f"p{i}.t = {_q(s[0])}"
        return f"p{i}.t IN ({', '.join(_q(x) for x in s)})"

    joins = [f"{ptok} p1"]
    conds = [_tcond(1)]
    for i in range(2, n + 1):
        joins.append(f"JOIN {ptok} p{i} ON p{i}.doc_id = p1.doc_id")
        conds.append(_tcond(i))
    # distinct positions (terms are distinct so this is implied, but the
    # engine's packed-key patterns enforce it; keep the mirror exact)
    for i in range(1, n + 1):
        for j in range(i + 1, n + 1):
            conds.append(f"p{i}.p <> p{j}.p")
    plist = ", ".join(f"p{i}.p" for i in range(1, n + 1))
    conds.append(f"greatest({plist}) - least({plist}) <= {n - 1 + int(slop)}")
    near = (
        "near AS (SELECT DISTINCT p1.doc_id FROM "
        + " ".join(joins)
        + " WHERE "
        + " AND ".join(conds)
        + ")"
    )
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n{near}\n"
        f"SELECT h.doc_id AS doc_id, round(h.score, 4) AS score\n"
        f"FROM hits h JOIN near USING (doc_id)\n"
        f"WHERE ({_bool_sql(plan.ast)})\n"
        f"ORDER BY round(h.score, 4) DESC, h.doc_id ASC LIMIT {int(k)}"
    )


def oracle_span_not_sql(
    include: list[str], exclude: str, pre: int = 0, post: int = 0,
    k: int = 10, config: BuildConfig | None = None,
) -> str:
    """span_not oracle mirroring plans/serving.span_not: the include-terms
    AND query's top-k restricted to docs with an occurrence of the include
    phrase (adjacent, in order) whose [start-pre, end+post] window holds no
    occurrence of the exclude term."""
    config = config or BuildConfig()
    toks = [t.lower() for t in include]
    excl = exclude.lower()
    n = len(toks)
    plan = as_plan(" & ".join(toks))
    ptok = (
        f"(SELECT doc_id, unnest(regexp_extract_all(body_text, '{_PAT}')) AS t, "
        f"unnest(range(1, len(regexp_extract_all(body_text, '{_PAT}')) + 1)) AS p "
        f"FROM corpus)"
    )
    joins = [f"{ptok} p1"]
    conds = [f"p1.t = {_q(toks[0])}"]
    for i in range(2, n + 1):
        joins.append(
            f"JOIN {ptok} p{i} ON p{i}.doc_id = p1.doc_id AND p{i}.p = p1.p + {i - 1}"
        )
        conds.append(f"p{i}.t = {_q(toks[i - 1])}")
    conds.append(
        f"NOT EXISTS (SELECT 1 FROM {ptok} e WHERE e.doc_id = p1.doc_id "
        f"AND e.t = {_q(excl)} "
        f"AND e.p BETWEEN p1.p - {int(pre)} AND p1.p + {n - 1 + int(post)})"
    )
    surv = (
        "surv AS (SELECT DISTINCT p1.doc_id FROM "
        + " ".join(joins)
        + " WHERE "
        + " AND ".join(conds)
        + ")"
    )
    return (
        f"WITH {corpus_cte(config.analyzer)},\n{_hits_cte(plan, config)},\n{surv}\n"
        f"SELECT h.doc_id AS doc_id, round(h.score, 4) AS score\n"
        f"FROM hits h JOIN surv USING (doc_id)\n"
        f"WHERE ({_bool_sql(plan.ast)})\n"
        f"ORDER BY round(h.score, 4) DESC, h.doc_id ASC LIMIT {int(k)}"
    )


def oracle_rank_eval_sql(
    cases: list[tuple[str, str]], k: int = 10,
    config: BuildConfig | None = None,
) -> str:
    """rank_eval oracle mirroring plans/serving.rank_eval: per case the
    run is oracle_search_sql (same rank order: rounded score desc, doc_id
    asc), the relevant set is oracle_match_sql of the qrel query, metrics
    identical (binary nDCG, 1/log2(rank+1))."""
    config = config or BuildConfig()
    selects = []
    for qid, (q, qrel) in enumerate(cases):
        search = oracle_search_sql(q, k=k, config=config)
        match = oracle_match_sql(qrel, config=config)
        selects.append(f"""SELECT {qid} AS query_id, * FROM (
WITH run AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM ({search})
),
rel AS (SELECT doc_id FROM ({match})),
nrel AS (SELECT count(*) AS n_rel FROM rel),
hit AS (SELECT r.rank FROM run r JOIN rel USING (doc_id)),
acc AS (
  SELECT count(*) AS n_hit,
         coalesce(sum(1.0 / log2(rank + 1)), 0.0) AS dcg,
         min(rank) AS min_rank
  FROM hit
),
idcg AS (
  SELECT coalesce(sum(1.0 / log2(i + 1)), 0.0) AS idcg
  FROM (SELECT unnest(range(1, 1 + least({int(k)}, (SELECT n_rel FROM nrel)))) AS i)
)
SELECT nrel.n_rel::BIGINT AS n_rel,
       round(acc.n_hit / {float(k)!r}, 4) AS p_at_k,
       round(CASE WHEN nrel.n_rel > 0
             THEN CAST(acc.n_hit AS DOUBLE) / nrel.n_rel ELSE 0.0 END, 4) AS recall_at_k,
       round(CASE WHEN acc.min_rank IS NOT NULL
             THEN 1.0 / acc.min_rank ELSE 0.0 END, 4) AS rr,
       round(CASE WHEN idcg.idcg > 0
             THEN acc.dcg / idcg.idcg ELSE 0.0 END, 4) AS ndcg
FROM acc, nrel, idcg
)""")
    return "\nUNION ALL\n".join(selects) + "\nORDER BY query_id"


def _shard_expr_sql() -> str:
    from bitfunnel_spark.operators.sharding import (
        DEFAULT_SHARD_BOUNDARIES,
        shard_case_sql,
    )

    return shard_case_sql("coalesce(dl.doclen, 0)", DEFAULT_SHARD_BOUNDARIES)


def oracle_sampler_sql(
    query, by: str = "lang", shard_size: int = 64,
    diversify: tuple[str, int] | None = None,
    config: BuildConfig | None = None,
) -> str:
    """sampler / diversified_sampler oracle mirroring
    plans/serving.sampler_agg / diversified_sampler_agg: per-shard top
    ``shard_size`` of the scored match set in (rounded score desc,
    doc_id asc) order — after an optional per-(shard, field-value)
    ``max_docs_per_value`` dedup when ``diversify=(field, max)`` — then
    terms counts of ``by`` over the sample."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col_of = {"lang": "lang", "repo": "source"}
    shard = _shard_expr_sql()
    dedup = ""
    src = "s"
    if diversify is not None:
        dfield, dmax = diversify
        dedup = f""",
dd AS (
  SELECT doc_id, score, shard FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY s.shard, d.{col_of[dfield]}
      ORDER BY s.score DESC, s.doc_id ASC) AS dn
    FROM s JOIN documents d USING (doc_id))
  WHERE dn <= {int(dmax)}
)"""
        src = "dd"
    return (
        f"WITH {corpus_cte(config.analyzer)},\n"
        f"{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id, round(h.score, 4) AS score FROM hits h "
        f"WHERE {_bool_sql(plan.ast)}),\n"
        f"s AS (SELECT m.doc_id, m.score, ({shard})::INT AS shard\n"
        f"      FROM m LEFT JOIN dl USING (doc_id)){dedup},\n"
        f"samp AS (\n"
        f"  SELECT doc_id FROM (\n"
        f"    SELECT doc_id, row_number() OVER (\n"
        f"      PARTITION BY shard ORDER BY score DESC, doc_id ASC) AS rn\n"
        f"    FROM {src})\n"
        f"  WHERE rn <= {int(shard_size)}\n"
        f")\n"
        f"SELECT d.{col_of[by]} AS value, count(*)::BIGINT AS n_docs\n"
        f"FROM samp JOIN documents d USING (doc_id)\n"
        f"GROUP BY d.{col_of[by]}\n"
        f"ORDER BY n_docs DESC, value ASC"
    )


def oracle_boxplot_sql(
    query, by: str = "lang", config: BuildConfig | None = None
) -> str:
    """boxplot-under-terms oracle mirroring plans/serving.facet_boxplot:
    per facet value the exact five-number doclen summary (quantile_cont
    matches Spark's exact interpolated percentile)."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col_of = {"lang": "lang", "repo": "source"}
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)})\n"
        f"SELECT d.{col_of[by]} AS {by}, count(*)::BIGINT AS n_docs,\n"
        f"       min(coalesce(dl.doclen, 0))::DOUBLE AS min,\n"
        f"       round(quantile_cont(coalesce(dl.doclen, 0), 0.25), 4) AS q1,\n"
        f"       round(quantile_cont(coalesce(dl.doclen, 0), 0.50), 4) AS q2,\n"
        f"       round(quantile_cont(coalesce(dl.doclen, 0), 0.75), 4) AS q3,\n"
        f"       max(coalesce(dl.doclen, 0))::DOUBLE AS max\n"
        f"FROM m JOIN documents d USING (doc_id) LEFT JOIN dl USING (doc_id)\n"
        f"GROUP BY d.{col_of[by]}\n"
        f"ORDER BY {by} ASC"
    )


def oracle_analyze_sql(doc_id: int, analyzer: str = "standard") -> str:
    """_analyze oracle mirroring functions/tokenizer.analyze_text over one
    document's text: the analyzed token stream with ES's 0-based
    positions (DuckDB's parallel unnest pairs each token with its
    ordinal)."""
    analyzed = _analyzed("text", analyzer)
    toks = f"regexp_extract_all({analyzed}, '{_PAT}')"
    return (
        f"SELECT ord::INT AS position, tok AS token FROM (\n"
        f"  SELECT unnest({toks}) AS tok,\n"
        f"         unnest(range(0, len({toks}))) AS ord\n"
        f"  FROM documents WHERE doc_id = {int(doc_id)})\n"
        f"ORDER BY position"
    )


def oracle_terms_enum_sql(
    string: str, size: int = 10, field: str = "body",
    case_insensitive: bool = False,
) -> str:
    """_terms_enum oracle mirroring plans/serving.terms_enum: the distinct
    dictionary terms of one indexed stream with the given prefix,
    ascending lexicographic, limit ``size`` — over the same corpus
    tokenization CTE the dictionary entries (SQL_DF_TABLE) use."""
    if case_insensitive:
        pred = f"starts_with(lower(term), {_q(string.lower())})"
    else:
        pred = f"starts_with(term, {_q(string)})"
    return (
        f"WITH {CORPUS_CTE}\n"
        f"SELECT term FROM dfreq WHERE stream = {_q(field)} AND {pred}\n"
        f"ORDER BY term ASC LIMIT {int(size)}"
    )


def oracle_percentile_ranks_sql(
    query, values, config: BuildConfig | None = None,
) -> str:
    """percentile_ranks oracle mirroring plans/serving.percentile_ranks:
    per requested value the exact empirical CDF percentage of the match
    set's doclen, derived c/n*100 in the same float64 op order."""
    config = config or BuildConfig()
    plan = as_plan(query)
    vals = sorted(float(v) for v in values)
    conds = ",\n".join(
        f"         sum(CASE WHEN coalesce(dl.doclen, 0) <= {v!r} THEN 1 ELSE 0 END)::BIGINT AS c{i}"
        for i, v in enumerate(vals)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {v!r}::DOUBLE AS value,"
        f" round(CAST(c{i} AS DOUBLE) / CAST(n AS DOUBLE) * 100.0, 4) AS pct FROM a"
        for i, v in enumerate(vals)
    )
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
        f"a AS (\n"
        f"  SELECT count(*)::BIGINT AS n,\n{conds}\n"
        f"  FROM m LEFT JOIN dl USING (doc_id)\n"
        f")\n{rows}"
    )


def oracle_t_test_sql(
    query_a, query_b, config: BuildConfig | None = None,
) -> str:
    """t_test oracle mirroring plans/serving.t_test: Welch's unpaired
    two-sample t over doclen, exact int64 n/sum/sumsq per side then
    mean/var/t in the engine's float64 op order (sample variance, n-1)."""
    config = config or BuildConfig()
    pa = as_plan(query_a)
    pb = as_plan(query_b)

    def _m(s):
        return (
            f"CAST(sum_{s} AS DOUBLE) / CAST(n_{s} AS DOUBLE)"
        )

    def _v(s):
        return (
            f"((CAST(sq_{s} AS DOUBLE) - CAST(n_{s} AS DOUBLE) * ({_m(s)}) * ({_m(s)}))"
            f" / (CAST(n_{s} AS DOUBLE) - 1.0))"
        )

    t = (
        f"(({_m('a')}) - ({_m('b')})) / sqrt(({_v('a')}) / CAST(n_a AS DOUBLE)"
        f" + ({_v('b')}) / CAST(n_b AS DOUBLE))"
    )
    sides = []
    for s, plan in (("a", pa), ("b", pb)):
        sides.append(
            f"m_{s} AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
            f"g_{s} AS (\n"
            f"  SELECT count(*)::BIGINT AS n_{s},\n"
            f"         sum(coalesce(dl.doclen, 0))::BIGINT AS sum_{s},\n"
            f"         sum(coalesce(dl.doclen, 0) * coalesce(dl.doclen, 0))::BIGINT AS sq_{s}\n"
            f"  FROM m_{s} LEFT JOIN dl USING (doc_id)\n"
            f")"
        )
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(pa, config, extra_terms=pb.terms)},\n"
        + ",\n".join(sides) + "\n"
        f"SELECT n_a, n_b,\n"
        f"       round({_m('a')}, 4) AS mean_a,\n"
        f"       round({_m('b')}, 4) AS mean_b,\n"
        f"       round({t}, 4) AS t_stat\n"
        f"FROM g_a CROSS JOIN g_b"
    )


def oracle_string_stats_sql(
    query, field: str = "repo", config: BuildConfig | None = None,
) -> str:
    """string_stats oracle mirroring plans/serving.string_stats: value
    count + min/max/avg length over the match set's keyword field, and
    base-2 Shannon entropy of the character distribution refactored as
    log2(total) − Σ c·log2(c)/total — the engine's exact op order."""
    config = config or BuildConfig()
    plan = as_plan(query)
    col = {"lang": "lang_text", "repo": "repo_text"}[field]
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
        f"v AS (SELECT c.{col} AS v FROM m JOIN corpus c USING (doc_id)),\n"
        f"lens AS (\n"
        f"  SELECT count(*)::BIGINT AS count,\n"
        f"         min(length(v))::INT AS min_length,\n"
        f"         max(length(v))::INT AS max_length,\n"
        f"         sum(length(v))::BIGINT AS len_sum\n"
        f"  FROM v\n"
        f"),\n"
        f"chars AS (\n"
        f"  SELECT ch, count(*)::BIGINT AS c\n"
        f"  FROM (SELECT unnest(string_split(v, '')) AS ch FROM v)\n"
        f"  WHERE ch <> '' GROUP BY ch\n"
        f"),\n"
        f"ent AS (\n"
        f"  SELECT log2(CAST(sum(c) AS DOUBLE))\n"
        f"         - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))\n"
        f"           / CAST(sum(c) AS DOUBLE) AS entropy_raw\n"
        f"  FROM chars\n"
        f")\n"
        f"SELECT count, min_length, max_length,\n"
        f"       round(CAST(len_sum AS DOUBLE) / CAST(count AS DOUBLE), 4) AS avg_length,\n"
        f"       round(entropy_raw, 4) AS entropy\n"
        f"FROM lens CROSS JOIN ent"
    )


def oracle_global_stats_sql(config: BuildConfig | None = None) -> str:
    """global_stats oracle mirroring plans/serving.global_stats: corpus-wide
    doclen stats over every document (docs with zero body tokens count with
    doclen 0, exactly like the engine's doc_stats side table)."""
    return (
        f"WITH {CORPUS_CTE},\n"
        f"a AS (\n"
        f"  SELECT count(*)::BIGINT AS n_docs,\n"
        f"         sum(coalesce(dl.doclen, 0))::BIGINT AS sum_doclen,\n"
        f"         min(coalesce(dl.doclen, 0))::BIGINT AS min_doclen,\n"
        f"         max(coalesce(dl.doclen, 0))::BIGINT AS max_doclen\n"
        f"  FROM corpus LEFT JOIN dl USING (doc_id)\n"
        f")\n"
        f"SELECT n_docs, sum_doclen, min_doclen, max_doclen,\n"
        f"       round(CAST(sum_doclen AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) AS avg_doclen\n"
        f"FROM a"
    )


def oracle_weighted_avg_sql(
    query, value_field: str = "chars", weight_field: str = "doclen",
    config: BuildConfig | None = None,
) -> str:
    """weighted_avg oracle mirroring plans/serving.weighted_avg:
    Σ(value·weight)/Σ(weight) over the match set with exact integer sums
    (cast ::BIGINT out of DuckDB's HUGEINT — the driver-canon rule) and
    ONE float64 divide at the end, the engine's op order. `doclen` is the
    body token count (dl CTE); `chars` is length(text) on the raw
    documents row — the same expression as the engine's
    length(content)."""
    config = config or BuildConfig()
    plan = as_plan(query)

    def _col(f: str) -> str:
        if f == "doclen":
            return "dl.doclen"
        if f == "chars":
            return "length(d.text)"
        raise ValueError(f"weighted_avg fields must be doclen or chars, got {f!r}")

    v, w = _col(value_field), _col(weight_field)
    return (
        f"WITH {CORPUS_CTE},\n{_hits_cte(plan, config)},\n"
        f"m AS (SELECT h.doc_id FROM hits h WHERE {_bool_sql(plan.ast)}),\n"
        f"j AS (\n"
        f"  SELECT {v}::BIGINT AS v, {w}::BIGINT AS w\n"
        f"  FROM m JOIN documents d USING (doc_id) JOIN dl USING (doc_id)\n"
        f")\n"
        f"SELECT count(*)::BIGINT AS n,\n"
        f"       sum(w)::BIGINT AS weight_sum,\n"
        f"       round(CAST(sum(v * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 4)\n"
        f"         AS weighted_avg\n"
        f"FROM j"
    )
