"""Elasticsearch Query-DSL (JSON) compiler — `{"bool": {...}}` → our AST.

Lets an ES user run their JSON `_search` query bodies unchanged against
this engine: the compiler maps the DSL's compositional subset onto the
existing AST (ast.py), so matching, scoring, expansion, and both
executors come for free. Documented subset (everything else raises
DslError, never silently mis-executes):

  query_string, match (or/and operator, integer minimum_should_match),
  match_phrase (slop),
  match_phrase_prefix, match_bool_prefix, term, terms, terms_set
  (minimum_should_match / params.num_terms script), prefix, wildcard,
  regexp, fuzzy (int or AUTO fuzziness), bool {must, filter, must_not,
  should, minimum_should_match}, combined_fields, boost on
  term/match-single-token, sparse_vector (pre-computed {token: weight}
  query_vector scored with the dot_tf similarity), and the filter-only
  kinds match_all / ids / exists / constant_score (constant scores,
  doc_id order — search_dsl level, corpus-metadata scans).

Deviations (documented): values are analyzed with the engine's standard
lowercase tokenizer even for `term` (the index stores lowercase terms);
`should` alongside `must`/`filter` requires minimum_should_match >= 1
(ES's scoring-only optional clauses need per-doc optional scoring the
kernel does not model).
"""

from __future__ import annotations

import re

from bitfunnel_spark.config import TOKEN_PATTERN
from bitfunnel_spark.plans.ast import (
    And,
    Boost,
    Filter,
    Fuzzy,
    Node,
    Not,
    Or,
    Phrase,
    PhrasePrefix,
    Prefix,
    Regex,
    Term,
    Wildcard,
)
from bitfunnel_spark.plans.parser import parse_query

FIELD_TO_STREAM = {
    "content": "body",
    "body": "body",
    "text": "body",
    "path": "path",
    "lang": "lang",
    "repo": "repo",
    "source": "repo",
}

_TOKEN_RE = re.compile(TOKEN_PATTERN)


class DslError(ValueError):
    pass


def _stream(field: str) -> str:
    try:
        return FIELD_TO_STREAM[field]
    except KeyError:
        raise DslError(f"unknown field: {field!r} (known: {sorted(FIELD_TO_STREAM)})")


def _analyze(value) -> list[str]:
    return _TOKEN_RE.findall(str(value).lower())


def _one_field(body: dict, clause: str) -> tuple[str, object]:
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError(f"{clause} expects exactly one field, got {body!r}")
    return next(iter(body.items()))


def _opts(value, value_key: str = "query") -> tuple[str, dict]:
    """Normalize `field: "text"` vs `field: {"query": "text", ...opts}`."""
    if isinstance(value, dict):
        opts = dict(value)
        if value_key not in opts:
            raise DslError(f"missing {value_key!r} in {value!r}")
        return str(opts.pop(value_key)), opts
    return str(value), {}


def _maybe_boost(node: Node, opts: dict) -> Node:
    boost = opts.pop("boost", None)
    if boost is None:
        return node
    if not isinstance(node, Term):
        raise DslError("boost is supported on single-term clauses only")
    return Boost(node, float(boost))


def _reject_extra(opts: dict, clause: str) -> None:
    if opts:
        raise DslError(f"unsupported {clause} options: {sorted(opts)}")


def _simple_query_string(body) -> Node:
    """ES ``simple_query_string``: the tolerant end-user syntax (Lucene
    SimpleQueryParser). Documented subset — ``+`` (AND), ``|`` (OR),
    leading ``-`` (NOT), ``"..."`` (phrase), trailing ``*`` (prefix);
    whitespace joins with ``default_operator``. Like Lucene, the parser
    NEVER raises on the query text itself: unbalanced quotes, dangling
    operators, and units that analyze to zero tokens are silently dropped
    (a dropped unit takes its pending operator/negation with it). ``+``
    and ``|`` fold left-associatively with equal precedence (Lucene's
    behavior); negated units become top-level must_nots (SimpleQueryParser
    adds MUST_NOT clauses regardless of position). A unit whose text
    analyzes to several tokens (``foo-bar``) joins them with the default
    operator. Not in the subset: ``(`` grouping, ``~N`` fuzzy/slop flags,
    and the ``flags`` feature mask (only ALL) — each is documented in ES
    as optional parser features. A query reducing to ONLY negations
    raises DslError (the engine refuses pure-NOT plans rather than
    scanning the corpus complement)."""
    if isinstance(body, str):
        body = {"query": body}
    opts = dict(body or {})
    text = opts.pop("query", None)
    _require(isinstance(text, str) and text.strip(),
             "simple_query_string needs a non-empty query string")
    fields = opts.pop("fields", ["content"])
    default_op = str(opts.pop("default_operator", "or")).lower()
    _require(default_op in ("or", "and"),
             f"default_operator must be and/or, got {default_op!r}")
    flags = opts.pop("flags", "ALL")
    _require(flags == "ALL",
             "simple_query_string supports flags=ALL only (feature "
             "masking is a parser-config knob, not a semantics change)")
    _reject_extra(opts, "simple_query_string")
    _require(isinstance(fields, (list, tuple)) and fields,
             "fields must be a non-empty list")
    _require(not any("^" in str(f) for f in fields),
             "per-field boosts (field^n) are not in the subset — "
             "use multi_match for cross-field weighted scoring")
    streams = {_stream(str(f)) for f in fields}
    _require(len(streams) == 1,
             "simple_query_string fields must map to one stream "
             "(use multi_match for cross-field scoring)")
    stream = streams.pop()

    units: list[tuple[str | None, bool, Node]] = []
    pend_op: str | None = None
    pend_neg = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "|":
            pend_op = "or"
            i += 1
            continue
        if ch == "+":
            pend_op = "and"
            i += 1
            continue
        if ch == "-":
            pend_neg = True
            i += 1
            continue
        node: Node | None = None
        if ch == '"':
            j = text.find('"', i + 1)
            if j == -1:  # unbalanced quote: take the rest (tolerant)
                raw, i = text[i + 1:], n
            else:
                raw, i = text[i + 1:j], j + 1
            toks = _analyze(raw)
            if len(toks) == 1:
                node = Term(toks[0], stream)
            elif len(toks) > 1:
                node = Phrase(tuple(toks), stream)
        else:
            j = i
            while j < n and not text[j].isspace() and text[j] not in '|+"':
                j += 1
            word, i = text[i:j], j
            is_prefix = word.endswith("*")
            toks = _analyze(word.rstrip("*"))
            if is_prefix and len(toks) == 1:
                node = Prefix(toks[0], stream)
            elif len(toks) == 1:
                node = Term(toks[0], stream)
            elif len(toks) > 1:
                # Lucene applies a trailing * to the LAST analyzed token
                # of the unit ("foo-bar*" → foo + bar-prefix)
                sub = tuple(Term(t, stream) for t in toks[:-1]) + (
                    Prefix(toks[-1], stream) if is_prefix
                    else Term(toks[-1], stream),
                )
                node = And(sub) if default_op == "and" else Or(sub)
        if node is None:
            pend_op = None
            pend_neg = False
            continue
        units.append((pend_op, pend_neg, node))
        pend_op, pend_neg = None, False

    acc: Node | None = None
    negs: list[Node] = []
    for op, neg, node in units:
        if neg:
            negs.append(node)
            continue
        if acc is None:
            acc = node
            continue
        use = op or default_op
        acc = And((acc, node)) if use == "and" else Or((acc, node))
    _require(acc is not None,
             "simple_query_string needs at least one positive clause")
    if negs:
        return And((acc, *[Not(x) for x in negs]))
    return acc


def compile_dsl(query: dict) -> Node:
    """Compile one DSL query object (the value of a `"query"` key) to an
    AST node."""
    if not isinstance(query, dict) or len(query) != 1:
        raise DslError(f"query must be a single-key object, got {query!r}")
    kind, body = next(iter(query.items()))

    if kind == "query_string":
        q = body["query"] if isinstance(body, dict) else body
        return parse_query(str(q))

    if kind == "simple_query_string":
        return _simple_query_string(body)

    if kind == "match":
        field, raw = _one_field(body, "match")
        text, opts = _opts(raw)
        op = str(opts.pop("operator", "or")).lower()
        if op not in ("and", "or"):
            raise DslError(f"match operator must be and/or, got {op!r}")
        msm = opts.pop("minimum_should_match", None)
        toks = _analyze(text)
        if not toks:
            raise DslError(f"match value analyzes to zero tokens: {text!r}")
        terms = [Term(t, _stream(field)) for t in toks]
        if msm is not None:
            # ES match minimum_should_match: at least N of the analyzed
            # terms (OR semantics with a count floor) — rides Or.min_match,
            # the same executor terms_set uses. Integer counts only;
            # percentage/combination grammars reject loudly (subset rule).
            if op == "and":
                raise DslError("minimum_should_match needs operator 'or' "
                               "(operator 'and' already requires all terms)")
            if not isinstance(msm, int) or isinstance(msm, bool):
                raise DslError(f"match minimum_should_match must be an "
                               f"integer count, got {msm!r}")
            if not 1 <= msm <= len(terms):
                raise DslError(f"match minimum_should_match {msm} out of "
                               f"range for {len(terms)} analyzed terms")
            if len(terms) == 1:
                # same boost support as the single-term non-msm path
                node = _maybe_boost(terms[0], opts)
                _reject_extra(opts, "match")
                return node
            _reject_extra(opts, "match")
            if msm == len(terms):
                return And(tuple(terms))
            return Or(tuple(terms), min_match=msm) if msm > 1 else Or(tuple(terms))
        if len(terms) == 1:
            node = _maybe_boost(terms[0], opts)
            _reject_extra(opts, "match")
            return node
        _reject_extra(opts, "match")
        return And(tuple(terms)) if op == "and" else Or(tuple(terms))

    if kind == "match_phrase":
        field, raw = _one_field(body, "match_phrase")
        text, opts = _opts(raw)
        slop = int(opts.pop("slop", 0))
        _reject_extra(opts, "match_phrase")
        toks = _analyze(text)
        if not toks:
            raise DslError(f"match_phrase value analyzes to zero tokens: {text!r}")
        if len(toks) == 1:
            return Term(toks[0], _stream(field))
        return Phrase(tuple(toks), _stream(field), slop=slop)

    if kind == "match_phrase_prefix":
        field, raw = _one_field(body, "match_phrase_prefix")
        text, opts = _opts(raw)
        _reject_extra(opts, "match_phrase_prefix")
        toks = _analyze(text)
        if len(toks) < 2:
            raise DslError("match_phrase_prefix needs >= 2 analyzed tokens")
        return PhrasePrefix(tuple(toks[:-1]), toks[-1], _stream(field))

    if kind == "term":
        field, raw = _one_field(body, "term")
        value, opts = _opts(raw, "value")
        toks = _analyze(value)
        if len(toks) != 1:
            raise DslError(f"term value must analyze to one token: {value!r}")
        node = _maybe_boost(Term(toks[0], _stream(field)), opts)
        _reject_extra(opts, "term")
        return node

    if kind == "terms":
        field, values = _one_field(body, "terms")
        if not isinstance(values, (list, tuple)) or not values:
            raise DslError("terms expects a non-empty list")
        out = []
        for v in values:
            toks = _analyze(v)
            if len(toks) != 1:
                raise DslError(f"terms value must analyze to one token: {v!r}")
            out.append(Term(toks[0], _stream(field)))
        return out[0] if len(out) == 1 else Or(tuple(out))

    if kind in ("prefix", "wildcard", "regexp", "fuzzy"):
        field, raw = _one_field(body, kind)
        value, opts = _opts(raw, "value")
        stream = _stream(field)
        if kind == "prefix":
            _reject_extra(opts, kind)
            return Prefix(value.lower(), stream)
        if kind == "wildcard":
            _reject_extra(opts, kind)
            return Wildcard(value.lower(), stream)
        if kind == "regexp":
            _reject_extra(opts, kind)
            return Regex(value, stream)
        dist = opts.pop("fuzziness", 1)
        _reject_extra(opts, kind)
        if isinstance(dist, str) and dist.upper() == "AUTO":
            # ES AUTO fuzziness: 0 edits under 3 chars, 1 for 3-5, else 2
            n = len(value)
            dist = 0 if n < 3 else (1 if n <= 5 else 2)
        return Fuzzy(value.lower(), stream, dist=int(dist))

    if kind == "terms_set":
        # ES terms_set: match docs containing >= N of the given terms.
        # Maps onto the engine's Or.min_match (minimum-should-match
        # counting in both executors — tests/test_minmatch.py).
        field, raw = _one_field(body, "terms_set")
        if not isinstance(raw, dict):
            raise DslError("terms_set expects an object per field")
        opts = dict(raw)
        values = opts.pop("terms", None)
        if not isinstance(values, (list, tuple)) or not values:
            raise DslError("terms_set needs a non-empty `terms` list")
        msm = opts.pop("minimum_should_match", None)
        script = opts.pop("minimum_should_match_script", None)
        _reject_extra(opts, "terms_set")
        if script is not None:
            src = script.get("source") if isinstance(script, dict) else script
            # the one script every ES example uses: require all terms
            if src != "params.num_terms":
                raise DslError(
                    "terms_set scripts support only 'params.num_terms' "
                    "(require-all); use minimum_should_match for a count"
                )
            if msm is not None:
                raise DslError("terms_set: give a count OR a script, not both")
            msm = len(values)
        if msm is None:
            raise DslError(
                "terms_set needs minimum_should_match (or the "
                "params.num_terms script)"
            )
        msm = int(msm)
        if not 1 <= msm <= len(values):
            raise DslError(f"terms_set minimum_should_match {msm} out of range")
        out = []
        for v in values:
            toks = _analyze(v)
            if len(toks) != 1:
                raise DslError(f"terms_set value must analyze to one token: {v!r}")
            out.append(Term(toks[0], _stream(field)))
        if len(out) == 1:
            return out[0]
        return And(tuple(out)) if msm == len(out) else Or(tuple(out), min_match=msm)

    if kind == "match_bool_prefix":
        # ES match_bool_prefix: every analyzed token as an optional term,
        # the LAST as a prefix — the non-phrase search-as-you-type kind
        # (match_phrase_prefix's unordered sibling)
        field, raw = _one_field(body, "match_bool_prefix")
        text, opts = _opts(raw)
        op = str(opts.pop("operator", "or")).lower()
        _reject_extra(opts, "match_bool_prefix")
        toks = _analyze(text)
        if not toks:
            raise DslError(f"match_bool_prefix analyzes to zero tokens: {text!r}")
        stream = _stream(field)
        clauses: list[Node] = [Term(t, stream) for t in toks[:-1]]
        clauses.append(Prefix(toks[-1], stream))
        if len(clauses) == 1:
            return clauses[0]
        if op == "and":
            return And(tuple(clauses))
        if op == "or":
            return Or(tuple(clauses))
        raise DslError(f"match_bool_prefix operator must be and/or, got {op!r}")

    if kind == "combined_fields":
        if not isinstance(body, dict):
            raise DslError("combined_fields expects an object")
        from bitfunnel_spark.plans.expand import combined_fields

        q = str(body.get("query", ""))
        fields = body.get("fields", [])
        weights = {}
        for f in fields:
            name, _, w = str(f).partition("^")
            weights[_stream(name)] = float(w) if w else 1.0
        if not q or not weights:
            raise DslError("combined_fields needs query and fields")
        return combined_fields(q, weights)

    if kind == "range":
        raise DslError(
            "range is filter-context: put it in bool.filter (or use a "
            "standalone range query / post_filter) — _search and _count "
            "route it to the doc-metadata restriction plan"
        )

    if kind == "bool":
        if not isinstance(body, dict):
            raise DslError("bool expects an object")
        unknown = set(body) - {"must", "filter", "must_not", "should", "minimum_should_match"}
        if unknown:
            raise DslError(f"unsupported bool keys: {sorted(unknown)}")

        def clauses(key):
            v = body.get(key, [])
            v = v if isinstance(v, list) else [v]
            return [compile_dsl(c) for c in v]

        musts = clauses("must")
        filters = [Filter(c) for c in clauses("filter")]
        nots = [Not(c) for c in clauses("must_not")]
        shoulds = clauses("should")
        msm = body.get("minimum_should_match")
        parts: list[Node] = musts + filters + nots
        if shoulds:
            if parts and msm is None:
                raise DslError(
                    "should alongside must/filter requires minimum_should_match "
                    ">= 1 (scoring-only optional clauses are not modeled)"
                )
            mm = int(msm) if msm is not None else 1
            if not 1 <= mm <= len(shoulds):
                raise DslError(f"minimum_should_match {mm} out of range")
            group = shoulds[0] if len(shoulds) == 1 else Or(tuple(shoulds), min_match=mm)
            parts.append(group)
        if not parts:
            raise DslError("empty bool query")
        if len(parts) == 1 and not isinstance(parts[0], Not):
            return parts[0]
        return And(tuple(parts))

    raise DslError(f"unsupported query kind: {kind!r}")


_SOURCE_FIELDS = ("repo", "path", "commit", "lang", "content", "content_sha256")


_COMBINATOR_KINDS = (
    "multi_match", "dis_max", "boosting", "function_score",
    "span_near", "span_first", "span_not", "span_or", "more_like_this",
    "sparse_vector", "rank_feature", "pinned", "intervals", "script_score",
    "distance_feature",
)

# kinds that are pure filters (no relevance signal): hits score a constant,
# ordered by doc_id — ES's constant-score semantics
_FILTER_ONLY_KINDS = ("constant_score", "ids", "exists", "match_all", "range",
                      "match_none")

# combinator kinds whose serving executors are declarative end-to-end —
# the subset that composes with the doc-metadata restriction plan (the
# rest are positional / kernel-pinned and reject loudly at routing)
_RESTRICT_COMBINATORS = (
    "multi_match", "dis_max", "boosting", "function_score",
    "script_score", "rank_feature", "distance_feature",
)

# ES range query fields -> engine doc-metadata columns. Both live on the
# NARROW doc_stats frame (doc_id, doclen, shard, slice) — a range filter is
# a pushed-down scan of that table, never a content scan. Text fields have
# no meaningful order under an inverted index (ES likewise ranges only over
# numeric/date-mapped fields).
_RANGE_FIELDS = {"doclen": "doclen", "length": "doclen",
                 "doc_id": "doc_id", "_id": "doc_id"}
_RANGE_OPS = ("gte", "gt", "lte", "lt")


def _parse_range(conf) -> tuple[str, list[tuple[str, float]]]:
    """Validate a range body: {field: {gte/gt/lte/lt: number, ...}} ->
    (doc_stats column, [(op, value), ...])."""
    _require(isinstance(conf, dict) and len(conf) == 1,
             "range needs exactly one field")
    (field, bounds), = conf.items()
    col = _RANGE_FIELDS.get(str(field))
    _require(col is not None,
             f"range field must be one of {sorted(set(_RANGE_FIELDS))} "
             f"(numeric doc metadata), got {field!r}")
    _require(isinstance(bounds, dict) and bounds,
             "range bounds must be a non-empty object of gte/gt/lte/lt")
    unknown = set(bounds) - set(_RANGE_OPS)
    _require(not unknown, f"unsupported range options: {sorted(unknown)}")
    _require(not ({"gte", "gt"} <= set(bounds)) and not ({"lte", "lt"} <= set(bounds)),
             "range takes at most one lower (gte|gt) and one upper (lte|lt) bound")
    out = []
    for op in _RANGE_OPS:
        if op in bounds:
            v = bounds[op]
            _require(isinstance(v, (int, float)) and not isinstance(v, bool),
                     f"range bound {op} must be a number, got {v!r}")
            out.append((op, v))
    return col, out


def _range_doc_ids(index, conf):
    """DataFrame[doc_id] of docs whose metadata satisfies the range — one
    scan of the narrow doc_stats table, predicate pushed to the source."""
    from pyspark.sql import functions as F

    col, bounds = _parse_range(conf)
    c = F.col(col)
    pred = None
    for op, v in bounds:
        p = {"gte": c >= v, "gt": c > v, "lte": c <= v, "lt": c < v}[op]
        pred = p if pred is None else (pred & p)
    return index.doc_stats.filter(pred).select("doc_id")

_CORPUS_FIELD_COLS = {
    "content": "content", "body": "content", "text": "content",
    "path": "path", "lang": "lang", "repo": "repo", "source": "repo",
}


def _filter_doc_ids(index, query: dict):
    """DataFrame[doc_id] matching a filter-context query: match_all / ids /
    exists run as corpus-metadata scans (predicate pushdown to the parquet
    scan, tombstones excluded); anything else compiles to the AST and runs
    the engine's unscored match (which already masks tombstones)."""
    from pyspark.sql import functions as F

    _require(isinstance(query, dict) and len(query) == 1,
             "filter must be a single-kind query object")
    (kind, conf), = query.items()
    if kind == "match_all":
        _require(isinstance(conf, dict) and not set(conf) - {"boost"},
                 "match_all takes only an optional boost")
        out = index.corpus.select("doc_id")
    elif kind == "ids":
        _require(isinstance(conf, dict) and set(conf) == {"values"},
                 "ids needs {values: [...]}")
        vals = conf["values"]
        _require(isinstance(vals, (list, tuple)) and vals,
                 "ids.values must be non-empty")
        ids = [int(v) for v in vals]
        # ES silently drops unknown ids — intersect with the corpus
        out = index.corpus.select("doc_id").filter(F.col("doc_id").isin(ids))
    elif kind == "exists":
        _require(isinstance(conf, dict) and set(conf) == {"field"},
                 "exists takes exactly {field: ...}")
        field = conf.get("field")
        col = _CORPUS_FIELD_COLS.get(str(field))
        _require(col is not None,
                 f"exists field must be one of {sorted(set(_CORPUS_FIELD_COLS))}")
        out = index.corpus.filter(
            F.col(col).isNotNull() & (F.col(col) != "")
        ).select("doc_id")
    elif kind == "range":
        out = _range_doc_ids(index, conf)
    elif kind == "match_none":
        _require(isinstance(conf, dict) and not conf,
                 "match_none takes no options")
        out = index.corpus.select("doc_id").filter(F.lit(False))
    else:
        return index.match(compile_dsl(query))
    tomb = getattr(index, "tombstones", frozenset())
    if tomb:
        out = out.filter(~F.col("doc_id").isin([int(d) for d in tomb]))
    return out


_META_FILTER_KINDS = ("range", "ids", "exists", "match_all", "match_none")


def _is_meta(c) -> bool:
    return (isinstance(c, dict) and len(c) == 1
            and next(iter(c)) in _META_FILTER_KINDS)


def _pop_bool_ranges(body: dict) -> tuple[dict, list, list]:
    """(residual bool body, positive clauses, negated clauses): pop the
    doc-metadata filter kinds (range / ids / exists / match_all /
    match_none) out of a bool's `filter` AND `must_not` lists. These are
    metadata scans, not posting intersections — the router executes them
    as semi-join (filter) / anti-join (must_not — the ES "field is
    missing" idiom) restrictions on the scored match set (executor
    `restrict`) instead of compiling them into the AST. In must/should
    they reject loudly (filter context only; a metadata predicate never
    contributes relevance — the subset rule keeps the scoring story
    simple)."""
    _require(isinstance(body, dict), "bool expects an object")
    for key in ("must", "should"):
        v = body.get(key, [])
        for c in (v if isinstance(v, list) else [v]):
            if _is_meta(c):
                raise DslError(
                    f"{next(iter(c))} belongs in bool.filter (or "
                    f"bool.must_not), not bool.{key} — it is "
                    "filter-context: no relevance contribution"
                )
    v = body.get("filter", [])
    clauses = v if isinstance(v, list) else [v]
    pos = [c for c in clauses if _is_meta(c)]
    v = body.get("must_not", [])
    nots = v if isinstance(v, list) else [v]
    neg = [c for c in nots if _is_meta(c)]
    if not pos and not neg:
        return body, [], []
    residual = {k2: v2 for k2, v2 in body.items()
                if k2 not in ("filter", "must_not")}
    rest_f = [c for c in clauses if not _is_meta(c)]
    rest_n = [c for c in nots if not _is_meta(c)]
    if rest_f:
        residual["filter"] = rest_f
    if rest_n:
        residual["must_not"] = rest_n
    return residual, pos, neg


def _range_restrict(index, pos: list, neg: list = (), extra=None):
    """One DataFrame[doc_id]: the intersection of the positive metadata
    clauses' doc sets (chained semi-joins; Catalyst broadcasts narrow
    sides), minus the negated clauses' sets (anti-joins). With only
    negations, the base is the narrow doc_stats id scan."""
    out = extra
    for conf in pos:
        ids = _filter_doc_ids(index, conf)
        out = ids if out is None else out.join(ids, "doc_id", "left_semi")
    if neg:
        if out is None:
            out = index.doc_stats.select("doc_id")
        for conf in neg:
            out = out.join(_filter_doc_ids(index, conf), "doc_id", "left_anti")
    return out


def _filter_only_hits(index, kind: str, conf, k: int):
    """constant_score / bare-filter kinds: the filter's match set scored at
    a constant, ordered by doc_id (ES ties break on doc order), top-k."""
    from pyspark.sql import functions as F

    if kind == "constant_score":
        _require(isinstance(conf, dict) and "filter" in conf
                 and not set(conf) - {"filter", "boost"},
                 "constant_score needs {filter: ..., boost?: n}")
        ids_df = _filter_doc_ids(index, conf["filter"])
        score = float(conf.get("boost", 1.0))
    else:
        score = 1.0
        if kind == "match_all" and isinstance(conf, dict):
            conf = dict(conf)
            score = float(conf.pop("boost", 1.0))
        ids_df = _filter_doc_ids(index, {kind: conf})
    return (
        ids_df.orderBy("doc_id")
        .limit(int(k))
        .select(
            F.col("doc_id"),
            F.round(F.lit(score), 4).cast("double").alias("score"),
        )
    )


def search_dsl(index, body: dict, k: int = 10, mode: str = "kernel"):
    """Run an ES `_search`-style body: `{"query": {...}}` (or a bare query
    object) through the engine. `size` maps to k; `"_source": [cols...]`
    joins the named corpus columns onto the hits — the k-row result
    broadcasts into the corpus scan, so field fetching never reorders or
    re-shuffles the match set. `"sort"` (one field clause) routes to
    sort_hits (score omitted, ES field-sort semantics); `"highlight"`
    (content field) routes to snippets; `"collapse"` routes to
    collapse_topk (best hit per field value); `"search_after"`
    ([last_score, last_doc_id]) routes to index.search_after (k-row deep
    paging). All four are AST-query-only — the serving-combinator kinds
    have no single match node to re-rank or page — and all four compose
    with the doc-metadata restriction plan (`range` in bool.filter /
    must_not, `post_filter`): the restriction rides an index copy's
    ambient `_restrict_docs`, which both executors honour — the kernel as
    per-(shard, slice) allow arrays, the declarative executor as a
    semi-join."""
    if "suggest" in body:
        _require("query" not in body,
                 "suggest-only bodies supported (no query alongside)")
        return run_suggest(index, body["suggest"], k=int(body.get("size", k)))
    source = sort_spec = highlight = min_score = collapse = post_filter = None
    rescore = None
    explain_flag = False
    frm = 0
    if "query" in body and isinstance(body.get("query"), dict):
        # unknown body keys reject LOUDLY — silently dropping a clause the
        # caller sent (aggs, knn, rescore windows, ...) is the worst
        # failure mode for a search API; pointed errors route the
        # supported separate executors
        unknown = set(body) - {"query", "size", "from", "_source", "sort",
                               "highlight", "collapse", "post_filter",
                               "min_score", "search_after", "rescore",
                               "explain", "fields"}
        if unknown & {"aggs", "aggregations"}:
            raise DslError(
                "aggregation bodies run via run_aggs(index, body) — "
                "_search hits and aggs are separate executors here"
            )
        if unknown & {"knn", "retriever", "rank"}:
            raise DslError(
                "vector/hybrid bodies run via plans.vector_dsl "
                "(knn_search / rrf_search / rerank_search)"
            )
        _require(not unknown,
                 f"unsupported _search body keys: {sorted(unknown)}")
        k = int(body.get("size", k))
        source = body.get("_source")
        if "fields" in body:
            # ES `fields` returns doc values in a per-hit fields section;
            # the flattened rendering here is identical to `_source`
            # columns, so the two are aliases — but not both at once
            # (their per-hit nesting differs in ES; one flattened shape
            # cannot honor two retrieval specs)
            # "_source": false + fields is ES's canonical usage (source
            # disabled, doc values requested) — false is not a second
            # retrieval spec, so only a real column list conflicts
            _require(source is None or source is False,
                     "fields and _source are aliases here — pass one")
            source = body["fields"]
        sort_spec = body.get("sort")
        highlight = body.get("highlight")
        collapse = body.get("collapse")
        rescore = body.get("rescore")
        if "explain" in body:
            _require(isinstance(body["explain"], bool),
                     "explain must be a boolean")
            explain_flag = body["explain"]
        post_filter = body.get("post_filter")
        # ES min_score: drop hits scoring below the floor. Scores order
        # the ranking descending, so filtering the fetched top page equals
        # filtering the full result then paging — no extra fetch needed.
        # Compared on the engine's rounded (4 dp) scores, the same values
        # the ranking itself uses.
        if "min_score" in body:
            min_score = float(body["min_score"])
        # ES from+size shallow paging: fetch from+size rows, skip `from`.
        # Cost grows with the page start — ES caps the same pattern at
        # max_result_window (10,000); deep pagination belongs to
        # search_after (which stays k-row at any depth and rides
        # block-max). The same cap applies here, loudly.
        frm = int(body.get("from", 0))
        _require(0 <= frm and frm + k <= 10_000,
                 "from + size must stay within 10,000 (ES "
                 "max_result_window); use search_after for deep pages")
        query = body["query"]
    else:
        query = body
    if min_score is not None:
        from pyspark.sql import functions as F  # noqa: N812
    is_comb = (
        isinstance(query, dict)
        and len(query) == 1
        and next(iter(query)) in _COMBINATOR_KINDS
    )
    is_filter_only = (
        isinstance(query, dict)
        and len(query) == 1
        and next(iter(query)) in _FILTER_ONLY_KINDS
    )
    fetch_k = k + frm  # over-fetch, then skip `frm` ordered rows

    def _page(hits):
        return hits.offset(frm) if frm else hits

    search_after = body.get("search_after") if isinstance(body, dict) else None
    ranges: list = []
    negs: list = []
    residual: dict = {}
    if isinstance(query, dict) and set(query) == {"bool"}:
        residual, ranges, negs = _pop_bool_ranges(query["bool"])
    if ranges or negs or post_filter is not None:
        # Doc-metadata restriction plan (ES range filters in bool.filter;
        # post_filter): the text query compiles and scores as usual; the
        # restriction ANDs into the match set BEFORE top-k. It attaches
        # ambiently to an index COPY (`_restrict_docs`, the run_aggs
        # mechanism) and the body falls through to its route below: the
        # kernel (plain hits, search_after, highlight, explain, rescore's
        # window in mode="kernel") cogroups it into per-(shard, slice)
        # allow arrays; collapse / sort / the combinators ride
        # executor._matched, which semi-joins it. Neither side collects a
        # doc array to the driver or caps its size. Mutual-exclusion
        # rules AMONG the routes stay the branches' own.
        if (ranges or negs) and not residual:
            raise DslError(
                "a bool of only metadata filters has no scoring query: use "
                "a standalone filter-only query (constant-score semantics) "
                "or _count instead"
            )
        node_query = {"bool": residual} if (ranges or negs) else query
        if isinstance(node_query, dict) and len(node_query) == 1:
            kind0 = next(iter(node_query))
            _require(kind0 not in _FILTER_ONLY_KINDS,
                     "post_filter needs a scoring query, not a "
                     "filter-only kind (fold the filter into the query)")
            # combinator kinds whose executors ride the engine's match
            # surfaces end-to-end (scored_matches / index.match /
            # index.search) compose with the restriction via the ambient
            # channel below; the positional/kernel-pinned ones (span_*,
            # intervals, sparse_vector, pinned, more_like_this) read
            # postings or positions directly, bypass `_restrict_docs`,
            # and reject HERE with a pointed message
            _require(kind0 not in set(_COMBINATOR_KINDS)
                     - set(_RESTRICT_COMBINATORS),
                     f"{kind0} does not compose with the restriction plan "
                     "(its executor is positional/kernel-pinned)")
        restrict = _range_restrict(index, ranges, negs)
        if post_filter is not None:
            _require(isinstance(post_filter, dict) and len(post_filter) == 1,
                     "post_filter must be a single-kind query object")
            pf = _filter_doc_ids(index, post_filter)
            restrict = pf if restrict is None else restrict.join(
                pf, "doc_id", "left_semi"
            )
        # ONE restriction channel for every downstream route, including
        # the plain-hits tail: the caller's `mode` picks the executor
        import dataclasses as _dc

        if mode == "kernel" and index.segments is None:
            # build the segment store once on the served index — the
            # kernel would otherwise encode (and cache) a fresh one on
            # every request's throwaway copy
            index.build_segments()
        index = _dc.replace(index)
        index._restrict_docs = restrict
        query = node_query
    if explain_flag:
        # ES "explain": true — per-hit score breakdown. ES nests an
        # explanation object under every hit; this engine's flattened
        # rendering (the inner_hits precedent) is serving.explain's
        # DataFrame[(doc_id, score, stream, term, tf, contribution)] —
        # one row per (result doc, scoring key), contributions summing to
        # the doc's score, the executor's expression VERBATIM so the
        # breakdown always reconciles with the ranking it explains.
        # The shape differs from a hits page, so explain composes with
        # query/size and the metadata restriction plan only — everything
        # else alongside rejects loudly.
        _require(sort_spec is None and highlight is None
                 and collapse is None and search_after is None
                 and min_score is None and rescore is None
                 and source is None and frm == 0,
                 "explain composes with query/size and the metadata "
                 "restriction plan only")
        _require(not is_comb and not is_filter_only,
                 "explain needs an AST query, not a "
                 "combinator/filter-only kind")
        from bitfunnel_spark.plans import serving

        return serving.explain(index, compile_dsl(query), k=k, mode=mode)
    if rescore is not None:
        # ES rescore (Lucene QueryRescorer): re-rank the top window_size
        # primary hits by blending in a second query's score —
        # serving.rescore (window cut = standard top-k; the second arm
        # runs ONCE and broadcast-joins the ≤window-row frame). ES body
        # shape: {"window_size": n, "query": {"rescore_query": {...},
        # "query_weight": w, "rescore_query_weight": rw, "score_mode": m}}.
        # Subset rules, loud: AST queries both arms; no sort/highlight/
        # collapse/search_after/min_score alongside (rescore redefines the
        # score the others would rank or floor by); the page must sit
        # inside the window (past it ES serves un-rescored tail hits —
        # this engine refuses to mix orderings in one result).
        from bitfunnel_spark.plans import serving

        _require(sort_spec is None and highlight is None
                 and collapse is None and search_after is None
                 and min_score is None,
                 "rescore composes with query/size/from/_source and the "
                 "metadata restriction plan only")
        _require(not is_comb and not is_filter_only,
                 "rescore needs an AST main query, not a "
                 "combinator/filter-only kind")
        _require(isinstance(rescore, dict) and "query" in rescore
                 and not (set(rescore) - {"window_size", "query"}),
                 "rescore takes {'window_size': n, 'query': {...}}")
        rq = rescore["query"]
        _require(isinstance(rq, dict) and "rescore_query" in rq
                 and not (set(rq) - {"rescore_query", "query_weight",
                                     "rescore_query_weight", "score_mode"}),
                 "rescore.query takes rescore_query/query_weight/"
                 "rescore_query_weight/score_mode")
        sub = rq["rescore_query"]
        _require(isinstance(sub, dict) and len(sub) == 1
                 and next(iter(sub))
                 not in _COMBINATOR_KINDS + _FILTER_ONLY_KINDS,
                 "rescore_query must be an AST query kind")
        score_mode = rq.get("score_mode", "total")
        _require(score_mode in serving._RESCORE_MODES,
                 f"score_mode must be one of {serving._RESCORE_MODES}")
        window = rescore.get("window_size", 100)
        _require(isinstance(window, int) and not isinstance(window, bool)
                 and 1 <= window <= 10_000,
                 "window_size must be an int in [1, 10000]")
        _require(fetch_k <= window,
                 "from + size must fit inside window_size (hits past the "
                 "window would be un-rescored)")
        hits = serving.rescore(
            index, compile_dsl(query), compile_dsl(sub),
            window_size=window,
            query_weight=float(rq.get("query_weight", 1.0)),
            rescore_weight=float(rq.get("rescore_query_weight", 1.0)),
            score_mode=score_mode, k=fetch_k, mode=mode,
        )
        return _fetch_source(index, _page(hits), source)
    if search_after is not None:
        # ES search_after: the next page strictly after a cursor in the
        # total order. This engine's ranking order is (score desc, doc_id
        # asc), so the cursor is [last_score, last_doc_id] — the ES
        # idiom of sorting [_score, tiebreak-field]. Rides
        # index.search_after (k-row at any depth, block-max aware — never
        # the from+size over-fetch). ES itself rejects `from` with
        # search_after; sort/collapse/min_score/combinators reject loudly
        # per the subset rule (the cursor is defined by score order).
        _require(isinstance(search_after, (list, tuple)) and len(search_after) == 2,
                 "search_after takes [last_score, last_doc_id]")
        _require(frm == 0, "search_after and from are mutually exclusive (ES rule)")
        _require(sort_spec is None and highlight is None and collapse is None
                 and min_score is None,
                 "search_after composes with query/size/_source and the "
                 "metadata restriction plan only")
        _require(not is_comb and not is_filter_only,
                 "search_after needs an AST query, not a combinator/filter-only kind")
        _require(isinstance(search_after[0], (int, float))
                 and not isinstance(search_after[0], bool),
                 "search_after cursor is [last_score, last_doc_id] — the "
                 "first element must be a number (the last page's score)")
        _require((isinstance(search_after[1], int)
                  and not isinstance(search_after[1], bool))
                 or (isinstance(search_after[1], float)
                     and float(search_after[1]).is_integer()),
                 "search_after cursor is [last_score, last_doc_id] — the "
                 "second element must be an integral doc_id (a fractional "
                 "value usually means the cursor is swapped)")
        cursor = (float(search_after[0]), int(search_after[1]))
        hits = index.search_after(compile_dsl(query), cursor, k=k, mode=mode)
        return _fetch_source(index, hits, source)
    if collapse is not None:
        # ES field collapsing: best hit per distinct value of a keyword
        # field over the FULL scored match set, then the global top page —
        # plans/serving.collapse_topk (groupBy.max_by, so a mega-group
        # combines map-side). `inner_hits: {size: n}` widens each group to
        # its best n docs (collapse_topk's per_group knob — a window
        # PARTITIONED by the collapse field, one shuffle; the flattened
        # rendering of ES's per-hit inner hit lists). Subset rules,
        # rejected loudly: one collapse field; inner_hits takes only size;
        # AST queries only; no sort/highlight/min_score alongside (ES
        # composes some of these — this engine keeps the collapsed page
        # score-ranked).
        _require(isinstance(collapse, dict) and isinstance(collapse.get("field"), str),
                 "collapse needs {'field': <keyword field>}")
        _require(not (set(collapse) - {"field", "inner_hits"}),
                 f"unsupported collapse options: "
                 f"{sorted(set(collapse) - {'field', 'inner_hits'})}")
        per_group = 1
        if "inner_hits" in collapse:
            ih = collapse["inner_hits"]
            _require(isinstance(ih, dict) and set(ih) == {"size"},
                     "collapse.inner_hits takes exactly {'size': n}")
            _require(isinstance(ih["size"], int)
                     and not isinstance(ih["size"], bool)
                     and 1 <= ih["size"] <= 100,
                     "inner_hits.size must be an int in [1, 100]")
            per_group = int(ih["size"])
        _require(collapse["field"] in ("repo", "lang", "path", "commit"),
                 "collapse field must be corpus metadata (repo/lang/path/commit)")
        _require(not is_comb and not is_filter_only,
                 "collapse needs an AST query, not a combinator/filter-only kind")
        _require(sort_spec is None and highlight is None and min_score is None,
                 "collapse composes with query/size/from/_source and the "
                 "metadata restriction plan only")
        from bitfunnel_spark.plans import serving

        hits = serving.collapse_topk(
            index, compile_dsl(query), by=collapse["field"], k=fetch_k,
            per_group=per_group,
        )
        return _fetch_source(index, _page(hits), source)
    if is_filter_only:
        _require(sort_spec is None and highlight is None,
                 "sort/highlight need an AST query, not a filter-only kind")
        _require(min_score is None,
                 "min_score needs a scored query, not a filter-only kind")
        hits = _filter_only_hits(index, *next(iter(query.items())), k=fetch_k)
        return _fetch_source(index, _page(hits), source)
    if sort_spec is not None or highlight is not None:
        _require(not is_comb,
                 "sort/highlight need an AST query, not a combinator kind")
        _require(min_score is None or sort_spec is None,
                 "min_score needs _score ranking; sort omits it")
        _require(not (sort_spec is not None and highlight is not None),
                 "sort omits _score; highlight ranks by it — pick one")
        node = compile_dsl(query)
        if sort_spec is not None:
            by, ascending = _sort_clause(sort_spec)
            from bitfunnel_spark.plans import serving

            hits = serving.sort_hits(index, node, by=by, ascending=ascending, k=fetch_k)
            return _fetch_source(index, _page(hits), source, order_cols=((by, ascending),))
        frag = highlight if isinstance(highlight, dict) else {}
        fields = frag.get("fields")
        _require(isinstance(fields, dict) and set(fields) <= {"content", "body", "text"},
                 "highlight supports the content field")
        # unknown highlight options reject loudly (silently dropping
        # number_of_fragments/fragment_size would misrepresent the single-
        # fragment subset); pre/post_tags accept the ES list-of-one shape
        # or a bare string, at the highlight level or per-field (field
        # wins). Either tag alone defaults its pair to ES's <em> family.
        _require(not (set(frag) - {"fields", "pre_tags", "post_tags"}),
                 f"unsupported highlight options: "
                 f"{sorted(set(frag) - {'fields', 'pre_tags', 'post_tags'})}")
        _require(len(fields) == 1, "highlight takes exactly one field")
        (fconf,) = fields.values()
        _require(isinstance(fconf, dict)
                 and not (set(fconf) - {"pre_tags", "post_tags"}),
                 "per-field highlight options: pre_tags/post_tags only")

        def _one_tag(conf, key):
            v = conf.get(key)
            if v is None:
                return None
            if isinstance(v, list):
                _require(len(v) == 1 and isinstance(v[0], str),
                         f"{key} takes exactly one tag string")
                return v[0]
            _require(isinstance(v, str), f"{key} must be a string or [string]")
            return v

        # validate BOTH levels unconditionally, then let the field level
        # win on a None comparison — truthiness would silently discard an
        # explicit empty-string tag and skip validating the shadowed level
        f_pre, f_post = _one_tag(fconf, "pre_tags"), _one_tag(fconf, "post_tags")
        t_pre, t_post = _one_tag(frag, "pre_tags"), _one_tag(frag, "post_tags")
        pre = f_pre if f_pre is not None else t_pre
        post = f_post if f_post is not None else t_post
        tags = None
        if pre is not None or post is not None:
            tags = (pre if pre is not None else "<em>",
                    post if post is not None else "</em>")
        from bitfunnel_spark.plans import serving

        hits = serving.snippets(index, node, k=fetch_k, mode=mode, tags=tags)
        if min_score is not None:
            hits = hits.filter(F.col("score") >= min_score)
        return _fetch_source(index, _page(hits), source, extra_cols=("snippet",))
    if is_comb:
        # kinds whose executor is a serving-layer combinator rather than a
        # single AST (per-clause score fusion) — dispatched directly
        hits = _serving_query(index, *next(iter(query.items())), k=fetch_k)
    else:
        hits = index.search(compile_dsl(query), k=fetch_k, mode=mode)
    if min_score is not None:
        hits = hits.filter(F.col("score") >= min_score)
    return _fetch_source(index, _page(hits), source)


def _match_ids(index, query: dict, api: str = "_count"):
    """DataFrame[doc_id] of the query's unscored match set — the shared
    plan behind ``_count`` and ``_delete_by_query``: a pushed-down
    doc-metadata scan for the filter-only kinds, the engine match set for
    AST kinds, and the restriction semi-join for range-bearing bools.
    Tombstoned docs are always excluded. Combinator kinds reject (their
    executors produce rankings; their match semantics, where needed, are
    expressible as bool/AST)."""
    _require(isinstance(query, dict) and len(query) == 1,
             f"{api} needs a single-kind query object")
    kind = next(iter(query))
    _require(kind not in _COMBINATOR_KINDS,
             f"{api} takes AST or filter-only queries, not {kind!r}")
    from pyspark.sql import functions as F

    if kind in _FILTER_ONLY_KINDS:
        if kind == "constant_score":
            conf = query[kind]
            _require(isinstance(conf, dict) and "filter" in conf,
                     "constant_score needs a filter")
            ids = _filter_doc_ids(index, conf["filter"])
        else:
            conf = query[kind]
            if kind == "match_all" and isinstance(conf, dict):
                conf = {key: v for key, v in conf.items() if key != "boost"}
            ids = _filter_doc_ids(index, {kind: conf})
    elif kind == "bool":
        residual, ranges, negs = _pop_bool_ranges(query["bool"])
        if ranges or negs:
            restrict = _range_restrict(index, ranges, negs)
            if not residual:
                # counting needs no scoring query — the metadata
                # restriction alone is the match set; mask tombstones (the
                # residual branch gets this from match_dataframe)
                ids = restrict
                tomb = getattr(index, "tombstones", frozenset())
                if tomb:
                    ids = ids.filter(
                        ~F.col("doc_id").isin([int(d) for d in tomb])
                    )
            else:
                from bitfunnel_spark.plans.executor import match_dataframe

                ids = match_dataframe(
                    index,
                    index.prepare_query(compile_dsl({"bool": residual})),
                    restrict=restrict,
                )
        else:
            ids = index.match(compile_dsl(query))
    else:
        ids = index.match(compile_dsl(query))
    return ids


def count_dsl(index, body: dict):
    """ES ``_count`` API: the number of documents matching a query — no
    scoring, no ranking, so the plan is the unscored match set (or a
    pushed-down corpus-metadata scan for the filter-only kinds) feeding
    one count aggregate. Returns DataFrame[(count,)] (one row, long)."""
    from pyspark.sql import functions as F

    query = body.get("query", body) if isinstance(body, dict) else body
    return _match_ids(index, query, api="_count").agg(
        F.count("*").alias("count")
    )


#: _delete_by_query collects matched ids to the driver (tombstones are a
#: driver-resident set by design — the reference's "document active" row is
#: likewise an in-memory row, Row.h:34-35), so it carries the same ceiling
#: fact_doc_ids enforces. A mass deletion past the cap is a physical-layout
#: operation, not a tombstone update: run a filtered rebuild / compaction
#: (streaming/ingest.compact drops tombstoned docs; FullTextIndex.build
#: over corpus.join(match, "left_anti") rewrites without them).
MAX_DELETE_DOCS = 5_000_000


def delete_by_query(index, body: dict) -> int:
    """ES ``_delete_by_query``: soft-delete every document matching the
    query; returns the number deleted (ES's ``deleted`` field). Deletion
    is the engine's standing tombstone semantics (index.delete_docs):
    matching stops immediately in both executors; epoch stats (df/idf/
    avgdl) stay frozen until compaction. Already-deleted docs never match,
    so repeating a delete reports 0 — ES's own idempotence behavior."""
    query = body.get("query", body) if isinstance(body, dict) else body
    ids_df = _match_ids(index, query, api="_delete_by_query")
    rows = ids_df.limit(MAX_DELETE_DOCS + 1).collect()
    if len(rows) > MAX_DELETE_DOCS:
        raise DslError(
            f"_delete_by_query matched more than {MAX_DELETE_DOCS} docs; "
            "a deletion that size is a physical rewrite, not a tombstone "
            "update — compact (streaming/ingest.compact) or rebuild over "
            "an anti-joined corpus instead"
        )
    ids = [int(r[0]) for r in rows]
    if ids:
        index.delete_docs(ids)
    return len(ids)


def validate_query(body) -> tuple[bool, str]:
    """ES ``_validate/query?explain=true`` analogue: compile (never
    execute) a DSL body and report (valid, explanation) — for AST kinds
    the explanation is the compiled query in the engine's printable form
    (ast.fmt), the analogue of ES echoing the rewritten Lucene query.
    Combinator kinds (dis_max, multi_match, distance_feature, ...) and
    filter-only kinds (match_all, ids, ...) don't compile to one AST
    node — they validate by kind and report their executor class.
    Invalid bodies return (False, the error text) instead of raising —
    the point of the API is asking without failing."""
    from bitfunnel_spark.plans.ast import fmt

    try:
        query = body.get("query", body) if isinstance(body, dict) else body
        if isinstance(query, dict) and len(query) == 1:
            kind = next(iter(query))
            if kind in _COMBINATOR_KINDS:
                return True, f"{kind} (serving combinator)"
            if kind in _FILTER_ONLY_KINDS:
                return True, f"{kind} (filter-only, constant score)"
        node = compile_dsl(query)
        return True, fmt(node)
    except Exception as e:  # DslError, parser/planner ValueErrors
        return False, f"{type(e).__name__}: {e}"


def run_suggest(index, suggest: dict, k: int = 10):
    """ES `suggest` body (one named suggester): the `term` suggester maps
    to did_you_mean (spell correction: edit-distance dictionary scan), the
    `completion` suggester to suggest (prefix typeahead). Both are
    body-field only — the dictionary indexes body terms."""
    from bitfunnel_spark.plans import expand

    _require(isinstance(suggest, dict) and len(suggest) == 1,
             "exactly one named suggester")
    (_name, spec), = suggest.items()
    _require(isinstance(spec, dict), "suggester spec must be an object")
    spec = dict(spec)
    if "term" in spec:
        text = spec.pop("text", None)
        conf = dict(spec.pop("term") or {})
        _reject_extra(spec, "suggest")
        _require(isinstance(text, str) and text, "term suggester needs text")
        field = conf.pop("field", "content")
        _require(_stream(field) == "body", "suggesters are body-field only")
        max_dist = int(conf.pop("max_edits", 2))
        _reject_extra(conf, "term suggester")
        toks = _analyze(text)
        _require(len(toks) == 1, f"term suggester takes one token: {text!r}")
        return expand.did_you_mean(index, toks[0], k=k, max_dist=max_dist)
    if "completion" in spec:
        prefix = spec.pop("prefix", None)
        conf = dict(spec.pop("completion") or {})
        _reject_extra(spec, "suggest")
        _require(isinstance(prefix, str) and prefix, "completion needs a prefix")
        field = conf.pop("field", "content")
        _require(_stream(field) == "body", "suggesters are body-field only")
        _reject_extra(conf, "completion suggester")
        return expand.suggest(index, prefix.lower(), k=k)
    raise DslError("suggester must be `term` or `completion`")


def _sort_clause(spec) -> tuple[str, bool]:
    """One ES sort clause → (field, ascending). Accepts "field",
    {"field": "asc|desc"}, {"field": {"order": ...}}, each optionally in a
    one-element list. `_score` / multi-clause sorts are rejected loudly."""
    if isinstance(spec, list):
        _require(len(spec) == 1, "sort supports exactly one clause")
        spec = spec[0]
    if isinstance(spec, str):
        field, order = spec, "desc"
    elif isinstance(spec, dict) and len(spec) == 1:
        field, conf = next(iter(spec.items()))
        if isinstance(conf, dict):
            order = str(conf.get("order", "desc"))
            _require(set(conf) <= {"order"}, f"unsupported sort options: {conf}")
        else:
            order = str(conf)
    else:
        raise DslError(f"unsupported sort clause: {spec!r}")
    _require(field != "_score", "sort by _score is the default search — drop `sort`")
    _require(field in ("doclen", "lang", "repo", "path"),
             f"sort field must be doclen/lang/repo/path, got {field!r}")
    _require(order in ("asc", "desc"), f"sort order must be asc/desc, got {order!r}")
    return field, order == "asc"


def _fetch_source(index, hits, source, order_cols=(), extra_cols=()):
    """Join `_source` corpus columns onto a k-row hits frame (broadcast,
    never reshuffling the match set). `order_cols`: result columns that
    replace `score` in the output ordering (field-sort results)."""
    if not source:
        return hits
    if isinstance(source, str):  # ES allows a bare string, e.g. "_source": "repo"
        source = [source]
    if not isinstance(source, (list, tuple)):
        raise DslError(f"_source must be a field name or list of field names, got {type(source).__name__}")
    bad = [c for c in source if c not in _SOURCE_FIELDS]
    if bad:
        raise DslError(f"unknown _source fields: {bad} (known: {list(_SOURCE_FIELDS)})")
    from pyspark.sql import functions as F

    hit_cols = [c for c in hits.columns if c != "doc_id"]
    dup = [c for c in source if c in hit_cols]
    _require(not dup, f"_source fields already in the result: {dup}")
    fetched = index.corpus.select("doc_id", *source).join(
        F.broadcast(hits), "doc_id"
    )
    if order_cols:
        order = [F.asc(c) if a else F.desc(c) for c, a in order_cols]
    else:
        order = [F.desc("score")]
    return fetched.select("doc_id", *hit_cols, *source).orderBy(
        *order, F.asc("doc_id")
    )


def compile_bodies(bodies: list) -> list:
    """Compile a LOG of DSL query objects (each a `{"query": {...}}` body
    or a bare query object) to AST nodes — the percolator's registered
    queries as ES JSON. Combinator kinds are rejected (a standing query
    must be one match node; per-clause score fusion has no match set of
    its own)."""
    out = []
    for body in bodies:
        q = body.get("query", body) if isinstance(body, dict) else body
        if (
            isinstance(q, dict)
            and len(q) == 1
            and next(iter(q)) in _COMBINATOR_KINDS
        ):
            raise DslError(
                f"standing queries must compile to one AST node, got {next(iter(q))!r}"
            )
        out.append(compile_dsl(q))
    return out


def msearch(index, bodies: list, k: int = 10):
    """ES `_msearch`: a log of DSL bodies evaluated in ONE batched kernel
    job — DataFrame[(query_id int, doc_id long, score double)], query_id =
    the body's position. Bodies must be plain AST queries (compile_bodies
    contract). Sizes may differ per body (ES allows it); per-body limits
    ride batch.search_many's single rank window — one job for N bodies.
    Body modifiers that would silently change semantics if ignored
    (sort/highlight/suggest/_source/from/min_score/aggs/knn) are rejected
    loudly: run those bodies through search_dsl individually."""
    _require(isinstance(bodies, (list, tuple)) and bodies,
             "msearch needs a non-empty list of bodies")
    sizes = []
    for b in bodies:
        for mod in ("sort", "highlight", "suggest", "_source", "from",
                    "min_score", "aggs", "aggregations", "knn"):
            if isinstance(b, dict) and mod in b:
                raise DslError(f"msearch bodies don't support {mod!r}")
        size = int(b.get("size", k)) if isinstance(b, dict) else k
        _require(size >= 1, "msearch size must be >= 1")
        sizes.append(size)
    from bitfunnel_spark.plans.batch import search_many

    return search_many(index, compile_bodies(bodies), k=sizes)


def _serving_query(index, kind: str, body, k: int = 10):
    """ES query kinds that compile to serving-layer score combinators
    (dis_max / multi_match / boosting) instead of one AST node. Field
    names map through FIELD_TO_STREAM; sub-queries must be
    `query_string`/`match`-expressible as engine query strings."""
    from bitfunnel_spark.plans import serving

    if not isinstance(body, dict):
        raise DslError(f"{kind} expects an object")
    opts = dict(body)
    if kind == "sparse_vector":
        # ES 8.15 sparse_vector (learned-sparse / ELSER-shape retrieval)
        # with pre-computed query weights: score(d) = Σ_t w_t · tf(t, d) —
        # the dot_tf similarity, with weights riding the Boost machinery.
        # Tokens are features (used verbatim, lowercased — ES does not
        # re-analyze them either); absent tokens contribute nothing.
        field = opts.pop("field", "content")
        qv = opts.pop("query_vector", None)
        _reject_extra(opts, "sparse_vector")
        _require(_stream(field) == "body",
                 "sparse_vector scores the body field (tf impacts are "
                 "stored for body postings)")
        _require(isinstance(qv, dict) and qv,
                 "sparse_vector needs a query_vector of {token: weight}")
        for tok, w in qv.items():
            _require(isinstance(tok, str) and tok, f"bad sparse token {tok!r}")
            _require(isinstance(w, (int, float)) and float(w) > 0,
                     f"sparse weight for {tok!r} must be > 0, got {w!r}")
        clauses = tuple(
            Boost(Term(tok.lower(), "body"), float(w))
            for tok, w in sorted(qv.items())
        )
        node = clauses[0] if len(clauses) == 1 else Or(clauses)
        return index.search(node, k=k, mode="kernel", similarity="dot_tf")
    if kind == "intervals":
        # ES intervals query — documented subset mapped onto the engine's
        # positional executors: `match` rules (and `all_of` over
        # single-token `match` sub-rules, ES's common composition) with
        # ordered/unordered + max_gaps. ordered+bounded → sloppy phrase
        # (ordered window (n-1)+max_gaps); unordered+bounded → span_near;
        # unlimited gaps (-1, the ES default) → plain conjunction.
        # any_of / filter / prefix / wildcard rules raise loudly.
        _require(len(opts) == 1, "intervals needs exactly one field")
        (field, rule), = opts.items()
        _require(_stream(field) == "body",
                 "intervals runs on the body field (positions are stored "
                 "for body postings)")

        def _interval_tokens(r) -> tuple[list[str], int, bool]:
            _require(isinstance(r, dict) and len(r) == 1,
                     "an intervals rule is a single-kind object")
            (rkind, rconf), = r.items()
            if rkind == "match":
                rc = dict(rconf)
                text = rc.pop("query", None)
                _require(isinstance(text, str) and text,
                         "intervals match needs a query string")
                gaps = int(rc.pop("max_gaps", -1))
                ordered = bool(rc.pop("ordered", False))
                _reject_extra(rc, "intervals match")
                toks = _analyze(text)
                _require(bool(toks), f"match analyzes to zero tokens: {text!r}")
                return toks, gaps, ordered
            if rkind == "all_of":
                rc = dict(rconf)
                subs = rc.pop("intervals", None)
                gaps = int(rc.pop("max_gaps", -1))
                ordered = bool(rc.pop("ordered", False))
                _reject_extra(rc, "intervals all_of")
                _require(isinstance(subs, list) and subs,
                         "all_of needs a non-empty intervals list")
                toks = []
                for s in subs:
                    st, sg, so = _interval_tokens(s)
                    _require(len(st) == 1 and sg == -1 and not so,
                             "all_of sub-intervals must be single-token "
                             "match rules (nested windows are not modeled)")
                    toks.extend(st)
                return toks, gaps, ordered
            raise DslError(
                f"unsupported intervals rule {rkind!r} (supported: match, "
                "all_of over single-token matches)"
            )

        toks, gaps, ordered = _interval_tokens(rule)
        if len(toks) == 1:
            return index.search(Term(toks[0], "body"), k=k, mode="kernel")
        if gaps < 0:  # unlimited gaps: pure conjunction, order unobservable
            _require(not ordered,
                     "ordered intervals need max_gaps >= 0 (an unbounded "
                     "ordered subsequence is not modeled)")
            return index.search(And(tuple(Term(t, "body") for t in toks)),
                                k=k, mode="kernel")
        if ordered:
            return index.search(Phrase(tuple(toks), "body", slop=gaps),
                                k=k, mode="kernel")
        try:
            return serving.span_near(index, toks, slop=gaps, k=k)
        except ValueError as e:
            raise DslError(str(e)) from e
    if kind == "rank_feature":
        # ES rank_feature: a static per-doc numeric feature through a
        # bounded monotone function (plans/serving.rank_feature). ES's
        # standalone form matches every doc carrying the feature.
        field = opts.pop("field", None)
        _require(isinstance(field, str) and field, "rank_feature needs a field")
        boost = float(opts.pop("boost", 1.0))
        fn = None
        params = {}
        for fname in ("saturation", "log", "sigmoid"):
            if fname in opts:
                _require(fn is None, "rank_feature takes ONE function")
                fn = fname
                params = dict(opts.pop(fname) or {})
        _reject_extra(opts, "rank_feature")
        kwargs = {}
        if "pivot" in params:
            kwargs["pivot"] = float(params.pop("pivot"))
        if "exponent" in params:
            kwargs["exponent"] = float(params.pop("exponent"))
        if "scaling_factor" in params:
            kwargs["scaling_factor"] = float(params.pop("scaling_factor"))
        _require(not params, f"unsupported rank_feature params: {sorted(params)}")
        try:
            return serving.rank_feature(
                index, None, field=field, fn=fn or "saturation",
                boost=boost, k=k, **kwargs,
            )
        except ValueError as e:
            raise DslError(str(e)) from e
    if kind == "distance_feature":
        # ES distance_feature: boost by proximity of a per-doc numeric to
        # an origin — boost · pivot / (pivot + |v − origin|). Dates reduce
        # to the same arithmetic on epoch values; this engine's per-doc
        # numerics are doclen / numeric corpus metadata, so origin and
        # pivot are numbers (date-math strings are out of the subset).
        field = opts.pop("field", None)
        # restrict to the engine's per-doc numerics: anything else would
        # either raise a raw AnalysisException (unknown column) or cast
        # strings to NULL and rank garbage — loud subset instead
        _require(field in ("doclen", "doc_id"),
                 "distance_feature field must be doclen or doc_id")
        origin = opts.pop("origin", None)
        pivot = opts.pop("pivot", None)
        boost = float(opts.pop("boost", 1.0))
        _reject_extra(opts, "distance_feature")
        _require(isinstance(origin, (int, float)) and not isinstance(origin, bool),
                 "distance_feature needs a numeric origin")
        _require(isinstance(pivot, (int, float)) and float(pivot) > 0,
                 "distance_feature needs a positive numeric pivot")
        try:
            return serving.distance_feature(
                index, None, field=field, origin=float(origin),
                pivot=float(pivot), boost=boost, k=k,
            )
        except ValueError as e:
            raise DslError(str(e)) from e
    if kind == "pinned":
        # ES pinned query (search promotions): the given ids first, in the
        # given order, then organic results excluding them. Pinned rows
        # score 1e9 − position — far above any organic score, so one
        # (score desc, doc_id asc) order yields ES's layout. Unknown ids
        # are dropped (ES semantics). All frames stay ≤ k + |ids| rows.
        from pyspark.sql import functions as F

        ids = opts.pop("ids", None)
        organic = opts.pop("organic", None)
        _reject_extra(opts, "pinned")
        _require(isinstance(ids, (list, tuple)) and ids, "pinned needs ids")
        _require(isinstance(organic, dict), "pinned needs an organic query")
        ids = [int(i) for i in ids]
        _require(len(set(ids)) == len(ids), "pinned ids must be distinct")
        org = index.search(compile_dsl(organic), k=k + len(ids), mode="kernel")
        org = org.filter(~F.col("doc_id").isin(ids))
        id_arr = F.array(*[F.lit(i).cast("long") for i in ids])
        live = index.corpus.select("doc_id").filter(F.col("doc_id").isin(ids))
        tomb = getattr(index, "tombstones", frozenset())
        if tomb:
            live = live.filter(~F.col("doc_id").isin([int(d) for d in tomb]))
        pinned_rows = live.select(
            "doc_id",
            (F.lit(1e9) - F.array_position(id_arr, F.col("doc_id"))
             .cast("double")).alias("score"),
        )
        return (
            pinned_rows.unionByName(org.select("doc_id", "score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    if kind == "multi_match":
        text = opts.pop("query", None)
        _require(isinstance(text, str) and text, "multi_match needs a query string")
        fields = opts.pop("fields", ["content"])
        _require(isinstance(fields, list) and fields, "multi_match needs fields")
        mm_type = str(opts.pop("type", "best_fields"))
        tie = float(opts.pop("tie_breaker", 0.0))
        operator = str(opts.pop("operator", "or")).lower()
        _reject_extra(opts, kind)
        mapped = []
        for spec in fields:
            field, _, w = str(spec).partition("^")
            mapped.append(_stream(field) + (f"^{w}" if w else ""))
        try:
            return serving.multi_match(
                index, text, mapped, mm_type=mm_type,
                tie_breaker=tie, operator=operator, k=k,
            )
        except ValueError as e:
            raise DslError(str(e)) from e
    if kind == "dis_max":
        queries = opts.pop("queries", None)
        _require(isinstance(queries, list) and queries, "dis_max needs queries")
        tie = float(opts.pop("tie_breaker", 0.0))
        _reject_extra(opts, kind)
        clauses = [_clause_string(q) for q in queries]
        return serving.dis_max(index, clauses, tie_breaker=tie, k=k)
    if kind == "boosting":
        pos = opts.pop("positive", None)
        neg = opts.pop("negative", None)
        nb = float(opts.pop("negative_boost", 0.5))
        _require(pos is not None and neg is not None,
                 "boosting needs positive and negative")
        _reject_extra(opts, kind)
        return serving.boosting_query(
            index, _clause_string(pos), _clause_string(neg), negative_boost=nb, k=k
        )
    if kind == "function_score":
        q = opts.pop("query", None)
        _require(q is not None, "function_score needs a query")
        fvf = opts.pop("field_value_factor", None)
        boost_mode = str(opts.pop("boost_mode", "multiply"))
        if "random_score" in opts:
            # ES random_score: reproducible per-(seed, doc) factor —
            # serving.random_score's documented LCG mix (ES's own is a
            # seed+field hash; both are deterministic, neither is
            # portable to the other)
            rconf = opts.pop("random_score")
            _reject_extra(opts, kind)
            _require(fvf is None,
                     "function_score takes exactly one function")
            _require(isinstance(rconf, dict)
                     and not (set(rconf) - {"seed", "field"}),
                     "random_score takes {'seed': int} (field: doc_id "
                     "identity is the only per-doc source here)")
            seed = rconf.get("seed", 17)  # absent seed: ES randomizes;
            # this engine stays deterministic on the function's default
            _require(isinstance(seed, int) and not isinstance(seed, bool),
                     "random_score.seed must be an int")
            _require(rconf.get("field") in (None, "_seq_no", "doc_id", "_id"),
                     "random_score.field supports _seq_no/doc_id/_id")
            try:
                return serving.random_score(
                    index, _clause_string(q), seed=seed,
                    boost_mode=boost_mode, k=k,
                )
            except ValueError as e:
                raise DslError(str(e)) from e
        decay_kind = next(
            (d for d in serving._DECAY_KINDS if d in opts), None
        )
        if decay_kind is not None:
            # ES decay functions: {"gauss": {field: {"origin": o, "scale":
            # s, "offset": ..., "decay": ...}}} → serving.decay_score
            # (exact public ES formulas, one narrow feature join)
            dconf = opts.pop(decay_kind)
            _reject_extra(opts, kind)
            _require(fvf is None,
                     "function_score takes exactly one function")
            _require(isinstance(dconf, dict) and len(dconf) == 1,
                     f"{decay_kind} takes exactly one field")
            (dfield, params), = dconf.items()
            # numeric doc metadata only, validated HERE: an unknown or
            # text field would otherwise surface as an ANSI cast error
            # (or a silent factor-1 no-op with ANSI off) deep in execution
            _require(dfield in ("doclen", "length", "doc_id", "_id"),
                     f"{decay_kind} field must be numeric doc metadata "
                     "(doclen/length, doc_id/_id)")
            dfield = {"length": "doclen", "_id": "doc_id"}.get(dfield, dfield)
            _require(isinstance(params, dict), f"{decay_kind} field "
                     "config must be an object")
            params = dict(params)
            origin = params.pop("origin", None)
            scale = params.pop("scale", None)
            offset = params.pop("offset", 0.0)
            decay = params.pop("decay", 0.5)
            _reject_extra(params, decay_kind)
            for label, v in (("origin", origin), ("scale", scale),
                             ("offset", offset), ("decay", decay)):
                _require(isinstance(v, (int, float))
                         and not isinstance(v, bool),
                         f"{decay_kind}.{label} must be a number")
            # the closed forms need log(decay)/scale finite and nonzero
            _require(float(scale) > 0, f"{decay_kind}.scale must be > 0")
            _require(0.0 < float(decay) < 1.0,
                     f"{decay_kind}.decay must be in (0, 1)")
            _require(float(offset) >= 0.0,
                     f"{decay_kind}.offset must be >= 0")
            try:
                return serving.decay_score(
                    index, _clause_string(q), float(origin), float(scale),
                    field=str(dfield), kind=decay_kind,
                    offset=float(offset), decay=float(decay),
                    boost_mode=boost_mode, k=k,
                )
            except ValueError as e:
                raise DslError(str(e)) from e
        _require(isinstance(fvf, dict),
                 "function_score supports field_value_factor and the "
                 "gauss/exp/linear decay functions")
        _reject_extra(opts, kind)
        f = dict(fvf)
        field = str(f.pop("field", "doclen"))
        modifier = str(f.pop("modifier", "none"))
        factor = float(f.pop("factor", 1.0))
        _reject_extra(f, "field_value_factor")
        try:
            return serving.function_score(
                index, _clause_string(q), field=field, modifier=modifier,
                factor=factor, boost_mode=boost_mode, k=k,
            )
        except ValueError as e:
            raise DslError(str(e)) from e
    if kind == "script_score":
        # ES script_score: the painless-lite expression IS the score
        # (plans/serving.script_score) — bindings: _score, doclen, params.*
        q = opts.pop("query", None)
        _require(q is not None, "script_score needs a query")
        spec = opts.pop("script", None)
        _reject_extra(opts, kind)
        _require(isinstance(spec, (str, dict)), "script_score needs a script")
        if isinstance(spec, str):
            spec = {"source": spec}
        spec = dict(spec)
        src = spec.pop("source", None)
        sparams = spec.pop("params", None) or {}
        _reject_extra(spec, "script")
        _require(isinstance(src, str) and src.strip(),
                 "script needs a source expression")
        try:
            return serving.script_score(
                index, _clause_string(q), src, params=sparams, k=k
            )
        except ValueError as e:
            raise DslError(str(e)) from e
    if kind == "more_like_this":
        like = opts.pop("like", None)
        mqt = int(opts.pop("max_query_terms", 8))
        _reject_extra(opts, kind)
        if isinstance(like, dict):
            like = [like]
        _require(
            isinstance(like, list) and len(like) == 1
            and isinstance(like[0], dict) and set(like[0]) == {"_id"},
            "more_like_this supports like: [{'_id': <doc_id>}]",
        )
        return serving.more_like_this(index, int(like[0]["_id"]), k=k, m=mqt)
    if kind == "span_or":
        # standalone span_or: any occurrence of any clause term is a span,
        # so the match set is the plain OR of the terms — scored with the
        # engine's BM25 convention (the span family's standing contract;
        # ES's span scoring differs, documented deviation)
        cl = opts.pop("clauses", None)
        _reject_extra(opts, kind)
        _require(isinstance(cl, list) and cl, "span_or needs clauses")
        toks2 = [_span_term(c) for c in cl]
        _require(len(set(toks2)) == len(toks2), "span_or clauses must be distinct")
        node = (Term(toks2[0], "body") if len(toks2) == 1
                else Or(tuple(Term(t, "body") for t in toks2)))
        return index.search(node, k=k)
    if kind == "span_near":
        clauses = opts.pop("clauses", None)
        _require(isinstance(clauses, list) and clauses, "span_near needs clauses")
        slop = int(opts.pop("slop", 0))
        in_order = bool(opts.pop("in_order", False))
        _reject_extra(opts, kind)
        slots = [_span_slot(c) for c in clauses]
        if in_order:
            # ordered near ≡ the engine's sloppy phrase (order preserved,
            # up to `slop` interleaved tokens); Phrase is the module-level
            # ast import. Alternation needs the unordered evaluator.
            _require(all(isinstance(s, str) for s in slots),
                     "span_or inside span_near needs in_order=false")
            return index.search(Phrase(tuple(slots), slop=slop), k=k)
        return serving.span_near(index, slots, slop=slop, k=k)
    if kind == "span_first":
        m = opts.pop("match", None)
        end = opts.pop("end", None)
        _require(m is not None and end is not None, "span_first needs match and end")
        _reject_extra(opts, kind)
        term = _span_term(m)
        return serving.span_first(index, term, term, int(end), k=k)
    # span_not
    inc = opts.pop("include", None)
    exc = opts.pop("exclude", None)
    pre = int(opts.pop("pre", 0))
    post = int(opts.pop("post", 0))
    dist = opts.pop("dist", None)  # ES alias for pre == post
    if dist is not None:
        pre = post = int(dist)
    _require(inc is not None and exc is not None, "span_not needs include and exclude")
    _reject_extra(opts, kind)
    return serving.span_not(
        index, _span_tokens(inc), _span_term(exc), pre=pre, post=post, k=k
    )


def _span_slot(q):
    """A span_near clause as a slot: span_term -> one token; span_or of
    span_terms -> the slot's alternative tokens (Lucene span_or inside
    SpanNearQuery — the slot is filled by an occurrence of ANY
    alternative)."""
    if isinstance(q, dict) and len(q) == 1 and next(iter(q)) == "span_or":
        conf = q["span_or"]
        _require(isinstance(conf, dict) and set(conf) == {"clauses"},
                 "span_or needs {clauses: [...]}")
        cl = conf["clauses"]
        _require(isinstance(cl, list) and cl, "span_or clauses must be non-empty")
        toks = [_span_term(c) for c in cl]
        _require(len(set(toks)) == len(toks), "span_or clauses must be distinct")
        return toks[0] if len(toks) == 1 else toks
    return _span_term(q)


def _span_term(q) -> str:
    """A span clause as one body token: `{"span_term": {field: value}}`."""
    if not isinstance(q, dict) or len(q) != 1 or next(iter(q)) != "span_term":
        raise DslError(f"span clause must be a span_term object, got {q!r}")
    field, raw = _one_field(q["span_term"], "span_term")
    value, opts = _opts(raw, "value")
    _reject_extra(opts, "span_term")
    _require(_stream(field) == "body", "span queries are body-field only")
    toks = _analyze(value)
    _require(len(toks) == 1, f"span_term value must analyze to one token: {value!r}")
    return toks[0]


def _span_tokens(q) -> list[str]:
    """A span include clause as a token list: span_term, or span_near of
    span_terms with slop 0 + in_order (the adjacent-phrase include shape
    serving.span_not evaluates)."""
    if isinstance(q, dict) and len(q) == 1 and next(iter(q)) == "span_near":
        body = dict(q["span_near"])
        clauses = body.pop("clauses", None)
        _require(isinstance(clauses, list) and clauses, "span_near needs clauses")
        _require(int(body.pop("slop", 0)) == 0 and bool(body.pop("in_order", True)),
                 "span_not include must be adjacent in-order (slop 0)")
        _reject_extra(body, "span_near")
        return [_span_term(c) for c in clauses]
    return [_span_term(q)]


def _clause_string(q) -> str:
    """A sub-query as an engine query string: `query_string` passes
    through; `match` compiles field/operator/tokens. Other kinds would
    need AST-level combination — rejected loudly rather than approximated."""
    if not isinstance(q, dict) or len(q) != 1:
        raise DslError(f"sub-query must be a single-key object, got {q!r}")
    kind, body = next(iter(q.items()))
    if kind == "query_string":
        return str(body["query"] if isinstance(body, dict) else body)
    if kind == "term":
        field, raw = _one_field(body, "term")
        value, opts = _opts(raw, "value")
        _reject_extra(opts, "term")
        toks = _analyze(value)
        _require(len(toks) == 1, f"term value must analyze to one token: {value!r}")
        stream = _stream(field)
        return toks[0] if stream == "body" else f"{stream}:{toks[0]}"
    if kind == "match":
        field, raw = _one_field(body, "match")
        text, opts = _opts(raw)
        op = str(opts.pop("operator", "or")).lower()
        _reject_extra(opts, "match")
        toks = _analyze(text)
        _require(bool(toks), f"match value analyzes to zero tokens: {text!r}")
        stream = _stream(field)
        parts = [t if stream == "body" else f"{stream}:{t}" for t in toks]
        if op == "and" or len(parts) == 1:
            return " ".join(parts)
        _require(op == "or", f"match operator must be and/or, got {op!r}")
        return "(" + " | ".join(parts) + ")"
    raise DslError(
        f"sub-queries support query_string/match, got {kind!r}"
    )


# ---------------------------------------------------------------------------
# aggregations DSL — `{"aggs": {...}}` onto the serving aggregation ops

BUCKET_FIELDS = ("lang", "repo")  # corpus metadata columns
NUMERIC_FIELDS = ("doclen",)  # the engine's per-doc numeric
# top-level leaf metrics (serving.metric_agg) — legal WITHOUT a query
# (ES's no-query metric covers the whole live corpus)
LEAF_METRIC_KINDS = ("stats", "avg", "sum", "min", "max", "value_count",
                     "cardinality", "percentiles")


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise DslError(msg)


def run_aggs(index, body: dict, k: int = 10):
    """Run an ES `_search` body carrying exactly ONE top-level aggregation
    (optionally with exactly one sub-aggregation under a `terms` bucket)
    and return the corresponding serving op's DataFrame. Documented
    subset; anything else raises DslError:

      terms(field)                         -> facet_counts
      terms + stats(doclen)                -> facet_stats
      terms + percentiles(doclen)          -> facet_percentiles
      terms + cardinality(field)           -> facet_cardinality
      terms + top_hits(size)               -> top_hits
      histogram(doclen, interval)          -> histogram
      extended_stats(doclen)               -> extended_stats
      range(doclen, ranges)                -> facet_ranges
      significant_terms(content, size)     -> significant_terms
      rare_terms(field, max_doc_count)     -> rare_terms (long-tail buckets)
      multi_terms(terms, size)             -> multi_terms (composite keys)
      filters(query_string filters)        -> filters_agg
      adjacency_matrix(filters)            -> adjacency_matrix (pair counts)
      composite(sources, size, after)      -> composite_agg (paginated buckets)
      sampler(shard_size) + terms          -> sampler_agg (per-shard best-docs)
      diversified_sampler(...) + terms     -> diversified_sampler_agg
      terms + boxplot(doclen)              -> facet_boxplot (5-number summary)
      percentile_ranks(doclen, values)     -> percentile_ranks (exact CDF)
      t_test(a, b, heteroscedastic)        -> t_test (Welch's two-sample)
      string_stats(lang|repo)              -> string_stats (lengths + entropy)
      global {} + stats(doclen)            -> global_stats (query-escaping)
    """
    from bitfunnel_spark.plans import serving

    aggs = body.get("aggs") or body.get("aggregations")
    _require(isinstance(aggs, dict) and len(aggs) == 1, "exactly one top-level agg")
    q = None
    if "query" in body:
        query = body["query"]
        if isinstance(query, dict) and set(query) == {"bool"}:
            # ES range filters compose with every aggregation: pop them
            # out of bool.filter and attach the doc-metadata restriction
            # to an index COPY as `_restrict_docs` — executor._matched
            # (the one dataframe match surface every serving agg rides)
            # semi-joins it in. The `global` agg still escapes the FULL query
            # context including these filters (ES semantics) because it
            # never touches the match set.
            residual, ranges, negs = _pop_bool_ranges(query["bool"])
            if ranges or negs:
                _require(bool(residual),
                         "aggs over a pure metadata filter need a match "
                         "query alongside (a bool of only metadata "
                         "filters has no scoring/match clause)")
                import dataclasses as _dc

                restrict = _range_restrict(index, ranges, negs)
                index = _dc.replace(index)
                index._restrict_docs = restrict
                query = {"bool": residual}
        q = compile_dsl(query)
    (_, spec), = aggs.items()
    _require(isinstance(spec, dict), "agg spec must be an object")
    sub = spec.get("aggs") or spec.get("aggregations")
    kinds = [x for x in spec if x not in ("aggs", "aggregations")]
    _require(len(kinds) == 1, f"agg needs exactly one kind, got {kinds}")
    kind = kinds[0]
    conf = spec[kind]

    if kind == "filters":
        _require(q is None, "filters agg counts over the whole corpus (no query)")
        named = conf.get("filters")
        _require(isinstance(named, dict) and named, "filters.filters must be non-empty")
        qs = {}
        for name, sub_q in named.items():
            node = compile_dsl(sub_q)
            qs[name] = node
        return serving.filters_agg(index, qs)

    if kind == "adjacency_matrix":
        _require(q is None, "adjacency_matrix counts over the whole corpus (no query)")
        named = conf.get("filters")
        _require(isinstance(named, dict) and named, "adjacency_matrix.filters must be non-empty")
        _require(sub is None, "adjacency_matrix takes no sub-aggs")
        qs = {name: compile_dsl(sub_q) for name, sub_q in named.items()}
        return serving.adjacency_matrix(index, qs)

    if kind == "global":
        # ES global bucket: ESCAPES the query context by definition — stats
        # over the whole corpus for filtered-vs-unfiltered comparison
        _require(conf == {}, "global takes no options")
        _require(isinstance(sub, dict) and len(sub) == 1,
                 "global needs exactly one stats sub-agg")
        (_, sspec), = sub.items()
        _require(isinstance(sspec, dict) and set(sspec) == {"stats"},
                 "global sub-agg must be stats")
        _require(sspec["stats"].get("field") in NUMERIC_FIELDS,
                 "global stats field must be doclen")
        return serving.global_stats(index)

    if kind == "t_test":
        _require(q is None, "t_test's sides carry their own filters (no query)")
        _require(sub is None, "t_test takes no sub-aggs")
        unknown = set(conf) - {"a", "b", "type"}
        _require(not unknown, f"unsupported t_test options: {sorted(unknown)}")
        _require(conf.get("type", "heteroscedastic") == "heteroscedastic",
                 "t_test supports type=heteroscedastic (Welch) only")
        sides = []
        for s in ("a", "b"):
            sconf = conf.get(s)
            _require(isinstance(sconf, dict) and set(sconf) == {"field", "filter"},
                     f"t_test.{s} needs field + filter")
            _require(sconf["field"] in NUMERIC_FIELDS,
                     f"t_test.{s}.field must be doclen")
            sides.append(compile_dsl(sconf["filter"]))
        return serving.t_test(index, sides[0], sides[1])

    _require(q is not None or kind in LEAF_METRIC_KINDS,
             f"{kind} agg requires a query")

    if kind == "percentile_ranks":
        _require(conf.get("field") in NUMERIC_FIELDS,
                 "percentile_ranks field must be doclen")
        values = conf.get("values")
        _require(isinstance(values, list) and values,
                 "percentile_ranks.values must be non-empty")
        _require(sub is None, "percentile_ranks takes no sub-aggs")
        return serving.percentile_ranks(index, q, values=values)

    if kind == "weighted_avg":
        # ES weighted_avg: Σ(value·weight)/Σ(weight) over the match set.
        # Per-doc numerics: doclen (token count) and chars (content
        # character length) — serving.weighted_avg validates.
        vspec, wspec = conf.get("value"), conf.get("weight")
        _require(isinstance(vspec, dict) and set(vspec) == {"field"},
                 "weighted_avg.value needs exactly {'field': ...}")
        _require(isinstance(wspec, dict) and set(wspec) == {"field"},
                 "weighted_avg.weight needs exactly {'field': ...}")
        unknown = set(conf) - {"value", "weight"}
        _require(not unknown, f"unsupported weighted_avg options: {sorted(unknown)}")
        _require(sub is None, "weighted_avg takes no sub-aggs")
        try:
            return serving.weighted_avg(
                index, q, value_field=vspec["field"], weight_field=wspec["field"]
            )
        except ValueError as e:
            raise DslError(str(e)) from e

    if kind == "string_stats":
        field = conf.get("field")
        _require(field in BUCKET_FIELDS,
                 f"string_stats field must be one of {BUCKET_FIELDS}")
        unknown = set(conf) - {"field", "show_distribution"}
        _require(not unknown, f"unsupported string_stats options: {sorted(unknown)}")
        _require(sub is None, "string_stats takes no sub-aggs")
        return serving.string_stats(index, q, field=field)

    if kind == "composite":
        sources = conf.get("sources")
        _require(isinstance(sources, list) and sources, "composite.sources must be non-empty")
        fields, labels = [], []
        for s in sources:
            _require(isinstance(s, dict) and len(s) == 1,
                     "each composite source is {label: {'terms': {'field': ...}}}")
            (label, sspec), = s.items()
            _require(isinstance(sspec, dict) and set(sspec) == {"terms"},
                     "composite sources support terms only")
            f = sspec["terms"].get("field")
            _require(f in BUCKET_FIELDS, f"composite fields must be among {BUCKET_FIELDS}")
            fields.append(f)
            labels.append(label)
        _require(len(set(fields)) == len(fields), "composite fields must be distinct")
        after = conf.get("after")
        after_t = None
        if after is not None:
            _require(isinstance(after, dict) and set(after) == set(labels),
                     "composite.after keys must match the source labels")
            after_t = tuple(after[lbl] for lbl in labels)
        unknown = set(conf) - {"sources", "size", "after"}
        _require(not unknown, f"unsupported composite options: {sorted(unknown)}")
        _require(sub is None, "composite sub-aggs are not supported")
        return serving.composite_agg(
            index, q, by=tuple(fields), size=int(conf.get("size", 10)),
            after=after_t,
        )

    if kind in ("sampler", "diversified_sampler"):
        _require(isinstance(sub, dict) and len(sub) == 1,
                 f"{kind} needs exactly one terms sub-agg")
        (_, sspec), = sub.items()
        _require(isinstance(sspec, dict) and set(sspec) == {"terms"},
                 f"{kind} sub-agg must be a terms agg")
        by = sspec["terms"].get("field")
        _require(by in BUCKET_FIELDS, f"terms field must be one of {BUCKET_FIELDS}")
        shard_size = int(conf.get("shard_size", 64))
        if kind == "sampler":
            unknown = set(conf) - {"shard_size"}
            _require(not unknown, f"unsupported sampler options: {sorted(unknown)}")
            return serving.sampler_agg(index, q, by=by, shard_size=shard_size)
        dfield = conf.get("field")
        _require(dfield in BUCKET_FIELDS,
                 f"diversified_sampler field must be one of {BUCKET_FIELDS}")
        unknown = set(conf) - {"shard_size", "field", "max_docs_per_value"}
        _require(not unknown, f"unsupported diversified_sampler options: {sorted(unknown)}")
        return serving.diversified_sampler_agg(
            index, q, by=by, field=dfield, shard_size=shard_size,
            max_docs_per_value=int(conf.get("max_docs_per_value", 1)),
        )

    if kind == "histogram":
        _require(conf.get("field") in NUMERIC_FIELDS, "histogram field must be doclen")
        return serving.histogram(index, q, interval=int(conf.get("interval", 32)))
    if kind == "extended_stats":
        _require(conf.get("field") in NUMERIC_FIELDS, "extended_stats field must be doclen")
        return serving.extended_stats(index, q)
    if kind == "range":
        _require(conf.get("field") in NUMERIC_FIELDS, "range field must be doclen")
        ranges = conf.get("ranges")
        _require(isinstance(ranges, list) and ranges, "range.ranges must be non-empty")
        # facet_ranges buckets are contiguous half-open [edge_i, edge_{i+1})
        # intervals, so the ES spec must be contiguous and end unbounded —
        # anything else (a bounded last range, a gap between `to` and the
        # next `from`) would silently count docs into the wrong bucket.
        edges = []
        for i, r in enumerate(ranges):
            frm = r.get("from", 0 if i == 0 else None)
            _require(frm is not None, "every range after the first needs a `from`")
            edges.append(int(frm))
            to = r.get("to")
            if i + 1 < len(ranges):
                nxt = ranges[i + 1].get("from")
                _require(
                    to is not None and nxt is not None and int(to) == int(nxt),
                    "ranges must be contiguous: each `to` must equal the "
                    "next range's `from`",
                )
            else:
                _require("to" not in r, "last range must be unbounded (no `to`)")
        _require(edges == sorted(set(edges)), "range froms must be increasing")
        return serving.facet_ranges(index, q, edges=tuple(edges))
    if kind in ("significant_terms", "significant_text"):
        # significant_text is ES's re-analyzing variant of
        # significant_terms; this engine analyzes body text for both, so
        # they share the executor (the distinction in ES — stored keyword
        # values vs re-analyzed source — has no analogue here)
        _require(conf.get("field") in ("content", "body", "text"),
                 f"{kind} field must be the body text")
        return serving.significant_terms(index, q, k=int(conf.get("size", 20)))
    if kind == "rare_terms":
        field = conf.get("field")
        _require(field in BUCKET_FIELDS, f"rare_terms field must be one of {BUCKET_FIELDS}")
        _require(sub is None, "rare_terms takes no sub-aggs")
        unknown = set(conf) - {"field", "max_doc_count"}
        _require(not unknown, f"unsupported rare_terms options: {sorted(unknown)}")
        return serving.rare_terms(
            index, q, by=field, max_doc_count=int(conf.get("max_doc_count", 1))
        )
    if kind == "multi_terms":
        terms_spec = conf.get("terms")
        _require(isinstance(terms_spec, list) and len(terms_spec) >= 2,
                 "multi_terms needs >= 2 `terms` entries")
        fields = []
        for t in terms_spec:
            _require(isinstance(t, dict) and set(t) == {"field"},
                     f"each multi_terms entry is {{'field': ...}}, got {t!r}")
            _require(t["field"] in BUCKET_FIELDS,
                     f"multi_terms fields must be among {BUCKET_FIELDS}")
            fields.append(t["field"])
        _require(len(set(fields)) == len(fields), "multi_terms fields must be distinct")
        _require(sub is None, "multi_terms takes no sub-aggs")
        unknown = set(conf) - {"terms", "size"}
        _require(not unknown, f"unsupported multi_terms options: {sorted(unknown)}")
        return serving.multi_terms(
            index, q, by=tuple(fields), size=int(conf.get("size", 10))
        )
    if kind == "terms":
        field = conf.get("field")
        _require(field in BUCKET_FIELDS, f"terms field must be one of {BUCKET_FIELDS}")
        if not sub:
            return serving.facet_counts(index, q, facets=(field,))
        _require(isinstance(sub, dict), "sub-aggs must be an object")
        if len(sub) > 1:
            # several metric sub-aggs under one bucket (the Kibana shape):
            # ONE groupBy pass via facet_metrics — never one scan per metric
            metric_kinds = ("avg", "sum", "min", "max", "value_count",
                            "percentiles", "cardinality")
            specs = []
            for name, sspec in sub.items():
                _require(isinstance(sspec, dict) and len(sspec) == 1,
                         f"sub-agg {name!r} needs exactly one kind")
                (mk, mconf), = sspec.items()
                _require(mk in metric_kinds,
                         f"multiple sub-aggs support metric kinds "
                         f"{metric_kinds}; {mk!r} needs its own request")
                specs.append((name, mk, dict(mconf)))
            try:
                return serving.facet_metrics(index, q, by=field, metrics=specs)
            except ValueError as e:
                raise DslError(str(e)) from e
        _require(isinstance(sub, dict) and len(sub) == 1, "exactly one sub-agg")
        (_, sspec), = sub.items()
        skinds = list(sspec)
        _require(len(skinds) == 1, "sub-agg needs exactly one kind")
        skind, sconf = skinds[0], sspec[skinds[0]]
        if skind == "stats":
            _require(sconf.get("field") in NUMERIC_FIELDS, "stats field must be doclen")
            return serving.facet_stats(index, q, by=field)
        if skind == "percentiles":
            _require(sconf.get("field") in NUMERIC_FIELDS, "percentiles field must be doclen")
            pcts = tuple(float(p) for p in sconf.get("percents", (25.0, 50.0, 75.0, 95.0)))
            return serving.facet_percentiles(index, q, by=field, percents=pcts)
        if skind == "boxplot":
            _require(sconf.get("field") in NUMERIC_FIELDS, "boxplot field must be doclen")
            return serving.facet_boxplot(index, q, by=field)
        if skind == "median_absolute_deviation":
            _require(sconf.get("field") in NUMERIC_FIELDS,
                     "median_absolute_deviation field must be doclen")
            return serving.facet_mad(index, q, by=field)
        if skind == "cardinality":
            of = sconf.get("field")
            _require(of in BUCKET_FIELDS, f"cardinality field must be one of {BUCKET_FIELDS}")
            return serving.facet_cardinality(index, q, by=field, of=of)
        if skind == "top_hits":
            return serving.top_hits(index, q, by=field, per_group=int(sconf.get("size", 3)))
        raise DslError(f"unsupported sub-agg kind: {skind!r}")
    if kind == "matrix_stats":
        _require(sub is None, "matrix_stats is a leaf metric (no sub-aggs)")
        _require(q is not None, "matrix_stats agg requires a query")
        mconf = dict(conf or {})
        mfields = mconf.pop("fields", ["doclen", "chars"])
        _reject_extra(mconf, kind)
        _require(isinstance(mfields, list) and len(mfields) == 2,
                 "matrix_stats needs exactly two fields")
        try:
            return serving.matrix_stats(index, q, fields=tuple(mfields))
        except ValueError as e:
            raise DslError(str(e)) from e
    if kind in LEAF_METRIC_KINDS:
        # TOP-LEVEL leaf metrics — the most common ES aggregation shape
        # (no bucket): one narrow join + one global agg
        # (plans/serving.metric_agg). Without a query the metric covers
        # the whole live corpus, ES's own no-query behavior.
        _require(sub is None, f"{kind} is a leaf metric (no sub-aggs)")
        mconf = dict(conf or {})
        mfield = mconf.pop("field", "doclen")
        pcts = mconf.pop("percents", None) if kind == "percentiles" else None
        _reject_extra(mconf, kind)
        try:
            if pcts is not None:
                return serving.metric_agg(
                    index, q, kind, field=mfield,
                    percents=tuple(float(p) for p in pcts),
                )
            return serving.metric_agg(index, q, kind, field=mfield)
        except ValueError as e:
            raise DslError(str(e)) from e
    raise DslError(f"unsupported agg kind: {kind!r}")


# ---------------------------------------------------------------------------
# date_histogram + pipeline aggregations over an event/log frame
#
# ES's time-series workload: a date_histogram parent bucketing a log table,
# metric sub-aggs per bucket, pipeline sub-aggs (cumulative_sum, derivative,
# moving_fn, bucket_script/selector/sort) deriving series metrics, and an
# optional sibling *_bucket summarizing the whole series. The parent agg is
# one partial-agg groupBy (map-side combine + one exchange on the bucket
# key); pipelines run on the reduced bucket frame (operators/pipeline_aggs).

_CALENDAR_INTERVALS = (
    "minute", "hour", "day", "week", "month", "quarter", "year",
)
_DATE_METRICS = ("sum", "avg", "min", "max", "value_count")
_PIPELINE_KINDS = (
    "cumulative_sum", "derivative", "serial_diff", "moving_fn",
    "bucket_script", "bucket_selector", "bucket_sort",
)
_SIBLING_KINDS = (
    "avg_bucket", "sum_bucket", "min_bucket", "max_bucket", "stats_bucket",
)


def _events_filter(df, query: dict):
    """Tiny filter-context compiler for log frames: term / range /
    bool.filter over the frame's own columns → a Spark Column."""
    from pyspark.sql import functions as F

    _require(isinstance(query, dict) and len(query) == 1,
             "event query must be a single-kind object")
    (kind, conf), = query.items()
    if kind == "term":
        _require(isinstance(conf, dict) and len(conf) == 1,
                 "term needs {field: value}")
        (field, val), = conf.items()
        if isinstance(val, dict):
            val = val.get("value")
        _require(field in df.columns, f"unknown event field {field!r}")
        return F.col(field) == F.lit(val)
    if kind == "range":
        _require(isinstance(conf, dict) and len(conf) == 1,
                 "range needs {field: bounds}")
        (field, bounds), = conf.items()
        _require(field in df.columns, f"unknown event field {field!r}")
        _require(isinstance(bounds, dict) and bounds, "range needs bounds")
        ops = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__", "lt": "__lt__"}
        unknown = set(bounds) - set(ops)
        _require(not unknown, f"unsupported range bounds: {sorted(unknown)}")
        cond = F.lit(True)
        for op, v in bounds.items():
            cond = cond & getattr(F.col(field), ops[op])(F.lit(v))
        return cond
    if kind == "bool":
        _require(isinstance(conf, dict) and set(conf) == {"filter"},
                 "event bool supports only `filter`")
        clauses = conf["filter"]
        if isinstance(clauses, dict):
            clauses = [clauses]
        _require(isinstance(clauses, list) and clauses,
                 "bool.filter must be non-empty")
        cond = F.lit(True)
        for c in clauses:
            cond = cond & _events_filter(df, c)
        return cond
    raise DslError(f"unsupported event query kind: {kind!r}")


def _auto_interval(events, field: str, target: int) -> str:
    """Smallest calendar interval whose bucket count over the frame's
    [min, max] span stays ≤ ``target`` — ES auto_date_histogram's interval
    selection, mirrored bucket-count-exactly by the oracle's datediff
    CASE ladder."""
    import datetime as dt

    from pyspark.sql import functions as F

    row = events.agg(F.min(field).alias("lo"), F.max(field).alias("hi")).collect()[0]
    lo, hi = row["lo"], row["hi"]
    _require(lo is not None, "auto_date_histogram needs at least one row")

    def day0(t):
        return t.replace(hour=0, minute=0, second=0, microsecond=0)

    def n_buckets(unit: str) -> int:
        if unit == "minute":
            a = lo.replace(second=0, microsecond=0)
            b = hi.replace(second=0, microsecond=0)
            return int((b - a).total_seconds() // 60) + 1
        if unit == "hour":
            a = lo.replace(minute=0, second=0, microsecond=0)
            b = hi.replace(minute=0, second=0, microsecond=0)
            return int((b - a).total_seconds() // 3600) + 1
        if unit == "day":
            return (day0(hi) - day0(lo)).days + 1
        if unit == "week":  # Monday-truncated, like date_trunc('week')
            a = day0(lo) - dt.timedelta(days=lo.weekday())
            b = day0(hi) - dt.timedelta(days=hi.weekday())
            return (b - a).days // 7 + 1
        if unit == "month":
            return (hi.year - lo.year) * 12 + hi.month - lo.month + 1
        if unit == "quarter":
            return ((hi.year - lo.year) * 4
                    + (hi.month - 1) // 3 - (lo.month - 1) // 3 + 1)
        return hi.year - lo.year + 1

    for unit in _CALENDAR_INTERVALS:  # ordered smallest → largest
        if n_buckets(unit) <= target:
            return unit
    return "year"


def run_date_aggs(events, body: dict):
    """Run an ES body whose first aggregation is a ``date_histogram`` over
    a log/event DataFrame: metric sub-aggs reduce per bucket, pipeline
    sub-aggs derive series metrics in declaration order, and an optional
    SECOND top-level sibling agg (avg/sum/min/max/stats_bucket with
    ``buckets_path: "parent>metric"``) reduces the series to one row.
    Always emits ES's implicit ``doc_count``. Buckets return in time order
    unless a ``bucket_sort`` pipeline chose its own order."""
    from pyspark.sql import functions as F

    from bitfunnel_spark.operators import pipeline_aggs as P

    aggs = body.get("aggs") or body.get("aggregations")
    _require(isinstance(aggs, dict) and 1 <= len(aggs) <= 2,
             "need one date_histogram agg (+ optionally one sibling)")
    unknown_body = set(body) - {"aggs", "aggregations", "query", "size"}
    _require(not unknown_body, f"unsupported body keys: {sorted(unknown_body)}")
    _require(int(body.get("size", 0)) == 0,
             "date agg bodies are aggregation-only (size must be 0)")
    if "query" in body:
        events = events.filter(_events_filter(events, body["query"]))

    items = list(aggs.items())
    parent_name, spec = items[0]
    if isinstance(spec, dict) and "date_range" in spec:
        # ES date_range: explicitly declared (possibly overlapping)
        # [from, to) buckets — from inclusive, to exclusive, either bound
        # optional. Declaration-order rows (key, from_ts, to_ts,
        # doc_count); bounds echo back as the given strings (ES also
        # echoes the input representation).
        #
        # Scale shape: ONE scan with every bucket as a sibling conditional
        # sum (map-side partials; never one scan or one filter-job per
        # range), then a 1-row explode to bucket rows — the
        # percentile_ranks pattern on the time axis.
        _require(len(items) == 1, "date_range takes no sibling aggs")
        _require(not (spec.get("aggs") or spec.get("aggregations")),
                 "date_range takes no sub-aggs")
        conf = dict(spec["date_range"])
        field = conf.pop("field", None)
        _require(field in events.columns, f"unknown date field {field!r}")
        ranges = conf.pop("ranges", None)
        _require(not conf, f"unsupported date_range options: {sorted(conf)}")
        _require(isinstance(ranges, list) and ranges,
                 "date_range.ranges must be non-empty")
        # a bad bound would cast to NULL and silently zero the bucket;
        # validate driver-side against an EXPLICIT grammar both engines
        # parse identically (loud-subset rule). fromisoformat alone is
        # wrong here: it accepts '20240108', which Spark's timestamp cast
        # turns into NULL.
        _ts_re = re.compile(
            r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d{1,6})?)?$"
        )

        import datetime as _dt

        def _check_ts(v):
            ok = bool(_ts_re.fullmatch(str(v)))
            if ok:
                try:  # shape is right; now reject month 13 / day 99 etc.
                    _dt.datetime.fromisoformat(str(v))
                except ValueError:
                    ok = False
            if not ok:
                raise DslError(
                    f"unparseable date_range bound: {v!r} (use "
                    f"YYYY-MM-DD or YYYY-MM-DD HH:MM:SS[.ffffff])"
                )

        buckets = []
        for r in ranges:
            _require(isinstance(r, dict) and r and not set(r) - {"from", "to"},
                     f"each range is {{from?, to?}}, got {r!r}")
            frm, to = r.get("from"), r.get("to")
            cond = F.lit(True)
            if frm is not None:
                _check_ts(frm)
                cond = cond & (F.col(field) >= F.lit(str(frm)).cast("timestamp"))
            if to is not None:
                _check_ts(to)
                cond = cond & (F.col(field) < F.lit(str(to)).cast("timestamp"))
            key = f"{frm if frm is not None else '*'}-{to if to is not None else '*'}"
            buckets.append((key, frm, to, cond))
        row = events.agg(*[
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"c{i}")
            for i, (_, _, _, c) in enumerate(buckets)
        ])
        pairs = F.array(*[
            F.struct(
                F.lit(key).alias("key"),
                F.lit(frm).cast("string").alias("from_ts"),
                F.lit(to).cast("string").alias("to_ts"),
                F.col(f"c{i}").alias("doc_count"),
            )
            for i, (key, frm, to, _) in enumerate(buckets)
        ])
        return row.select(F.explode(pairs).alias("b")).select(
            "b.key", "b.from_ts", "b.to_ts", "b.doc_count"
        )
    series = None
    if isinstance(spec, dict) and "terms" in spec:
        # multi-series form (the Kibana multi-series chart):
        # terms(series) > date_histogram > metrics + pipelines. Each
        # series gets its own bucket axis and its own pipeline window
        # (apply_pipeline partition_by — the parallel 100 TB shape).
        tconf = dict(spec["terms"])
        series = tconf.pop("field", None)
        _require(series in events.columns, f"unknown series field {series!r}")
        _require(not tconf, f"unsupported terms options: {sorted(tconf)}")
        tsub = spec.get("aggs") or spec.get("aggregations")
        _require(isinstance(tsub, dict) and len(tsub) == 1,
                 "series terms needs exactly one date_histogram sub-agg")
        _require(len(items) == 1,
                 "sibling aggs are not supported in series mode")
        (parent_name, spec), = tsub.items()
    _require(
        isinstance(spec, dict)
        and ("date_histogram" in spec or "auto_date_histogram" in spec),
        "the first agg must be a date_histogram / auto_date_histogram",
    )
    auto = "auto_date_histogram" in spec
    conf = dict(spec["auto_date_histogram" if auto else "date_histogram"])
    field = conf.pop("field", None)
    _require(field in events.columns, f"unknown date field {field!r}")
    if auto:
        # ES auto_date_histogram: pick the smallest calendar interval
        # whose bucket count stays within the target. The choice needs
        # the filtered frame's time bounds — ONE 1-row aggregate collect
        # (a driver-side planning decision, like shard-boundary DP; the
        # per-bucket work stays fully distributed).
        target = int(conf.pop("buckets", 10))
        _require(target >= 1, "auto_date_histogram needs buckets >= 1")
        interval = _auto_interval(events, field, target)
    else:
        interval = conf.pop("calendar_interval", None)
        _require(interval in _CALENDAR_INTERVALS,
                 f"calendar_interval must be one of {_CALENDAR_INTERVALS}")
    _require(not conf, f"unsupported date_histogram options: {sorted(conf)}")

    metric_cols = [F.count("*").alias("doc_count")]
    metric_names: list = []
    zero_fill: dict = {}  # empty-bucket fill (ES: sum 0.0, count 0)
    pipeline_specs: list = []
    sub = spec.get("aggs") or spec.get("aggregations") or {}
    _require(isinstance(sub, dict), "sub-aggs must be an object")
    has_bucket_sort = False
    for name, sspec in sub.items():
        _require(isinstance(sspec, dict) and len(sspec) == 1,
                 f"sub-agg {name!r} needs exactly one kind")
        (skind, sconf), = sspec.items()
        if skind in _DATE_METRICS:
            _require(pipeline_specs == [],
                     "metric sub-aggs must precede pipeline sub-aggs")
            mfield = sconf.get("field")
            _require(mfield in events.columns and mfield != field,
                     f"bad metric field {mfield!r}")
            fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
                  "value_count": F.count}[skind]
            col = fn(mfield)
            if skind in ("sum", "avg"):
                # match the proven cross-engine group-sum pattern
                # (events_histogram): fix fold noise at 4 dp engine-side
                col = F.round(col, 4)
            metric_cols.append(col.alias(name))
            metric_names.append(name)
            if skind == "sum":
                zero_fill[name] = F.lit(0.0)  # double, matching round(sum)
            elif skind == "value_count":
                zero_fill[name] = F.lit(0).cast("long")
        elif skind in _PIPELINE_KINDS:
            has_bucket_sort = has_bucket_sort or skind == "bucket_sort"
            pipeline_specs.append((name, skind, sconf))
        else:
            raise DslError(f"unsupported date sub-agg kind: {skind!r}")

    if series is not None:
        _require(not auto,
                 "auto_date_histogram is not supported in series mode "
                 "(ES picks per-series intervals there; request fixed "
                 "calendar_interval instead)")
        _require(not has_bucket_sort,
                 "bucket_sort is per-parent-bucket in series mode — not "
                 "supported; sort client-side or drop the series terms")
    keys = ([F.col(series)] if series is not None else []) + [
        F.date_trunc(interval, field).alias("bucket")
    ]
    bucketed = events.groupBy(*keys).agg(*metric_cols)
    # ES date_histogram (min_doc_count = 0, the default) emits EMPTY
    # buckets across time gaps — pipelines must see them, or a derivative
    # silently compares across a gap and a moving window spans it. Fill
    # the calendar axis declaratively: one sequence() over [min, max] and
    # a left join; empty buckets get doc_count 0, sum/value_count 0
    # (ES's empty-bucket values) and null avg/min/max. Engine-specific
    # division-by-zero semantics on empty buckets (e.g. a bucket_script
    # rate over doc_count) are the caller's to guard — ES's painless
    # throws there too.
    _step = {
        "minute": "INTERVAL 1 MINUTE", "hour": "INTERVAL 1 HOUR",
        "day": "INTERVAL 1 DAY", "week": "INTERVAL 7 DAY",
        "month": "INTERVAL 1 MONTH", "quarter": "INTERVAL 3 MONTH",
        "year": "INTERVAL 1 YEAR",
    }[interval]
    if series is not None:
        # per-series axis: each series fills ITS OWN [min, max] span (ES:
        # the nested histogram is computed per parent bucket) — fully
        # declarative, a groupBy + sequence explode, no driver collect
        bounds = bucketed.groupBy(series).agg(
            F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
        )
        axis = bounds.select(
            series,
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr(_step))
            ).alias("bucket"),
        )
        join_keys = [series, "bucket"]
        lead_cols = [series, "bucket"]
    else:
        axis = (
            bucketed.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
            .select(F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr(_step))
            ).alias("bucket"))
        )
        join_keys = ["bucket"]
        lead_cols = ["bucket"]
    bucketed = axis.join(bucketed, join_keys, "left").select(
        *lead_cols,
        F.coalesce(F.col("doc_count"), F.lit(0).cast("long")).alias("doc_count"),
        *[
            F.coalesce(F.col(n), zero_fill[n]).alias(n)
            if n in zero_fill else F.col(n)
            for n in metric_names
        ],
    )
    if auto:
        # ES reports the chosen interval on the response
        bucketed = bucketed.withColumn("interval", F.lit(interval))
    try:
        out = P.apply_pipeline(
            bucketed, ["bucket"], pipeline_specs,
            partition_by=[series] if series is not None else (),
        )
    except P.PipelineError as e:
        raise DslError(str(e)) from e

    if len(items) == 2:
        sib_name, sib_spec = items[1]
        _require(isinstance(sib_spec, dict) and len(sib_spec) == 1,
                 f"sibling agg {sib_name!r} needs exactly one kind")
        (sib_kind, sib_conf), = sib_spec.items()
        _require(sib_kind in _SIBLING_KINDS,
                 f"second agg must be a sibling of {_SIBLING_KINDS}")
        path = sib_conf.get("buckets_path", "")
        _require(isinstance(path, str) and path.startswith(parent_name + ">"),
                 f"sibling buckets_path must be '{parent_name}>metric'")
        metric = path[len(parent_name) + 1:]
        try:
            return P.sibling_bucket(out, sib_kind, metric)
        except P.PipelineError as e:
            raise DslError(str(e)) from e
    if series is not None:
        return out.orderBy(series, "bucket")
    return out if has_bucket_sort else out.orderBy("bucket")
