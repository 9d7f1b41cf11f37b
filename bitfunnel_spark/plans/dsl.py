"""Elasticsearch Query-DSL (JSON) compiler — `{"bool": {...}}` → our AST.

Lets an ES user run their JSON `_search` query bodies unchanged against
this engine: the compiler maps the DSL's compositional subset onto the
existing AST (ast.py), so matching, scoring, expansion, and the kernel
come for free. Documented subset (everything else raises
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

import functools
import re
from typing import NamedTuple

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


def _dsl_errors(fn):
    """An executor dispatch whose ValueErrors (the serving layer's own
    argument checks) surface as DslError, the DSL's one error type."""
    @functools.wraps(fn)
    def run(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except DslError:
            raise
        except ValueError as e:
            raise DslError(str(e)) from e
    return run


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
        # counting in the kernel — tests/test_minmatch.py).
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

_FILTER_ONLY = ("metadata", "filter")
_COMBINATOR_CLASSES = ("combinator", "unrestricted")


def _kind_class(query) -> str:
    if isinstance(query, dict) and len(query) == 1:
        return _KIND_CLASS.get(next(iter(query)), "ast")
    return "ast"


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
    """DataFrame[(doc_id, shard, slice)] of docs whose metadata satisfies
    the range — one scan of the narrow doc_stats table, predicate pushed
    to the source. The group key rides along, so the kernel cogroups the
    rows with the segment store as they are (kernel.run_log)."""
    from pyspark.sql import functions as F

    col, bounds = _parse_range(conf)
    c = F.col(col)
    pred = None
    for op, v in bounds:
        p = {"gte": c >= v, "gt": c > v, "lte": c <= v, "lt": c < v}[op]
        pred = p if pred is None else (pred & p)
    return index.doc_stats.filter(pred).select("doc_id", "shard", "slice")

_CORPUS_FIELD_COLS = {
    "content": "content", "body": "content", "text": "content",
    "path": "path", "lang": "lang", "repo": "repo", "source": "repo",
}


def _filter_doc_ids(index, query: dict):
    """DataFrame[doc_id] matching a filter-context query: the metadata
    kinds (_KIND_CLASS) run as corpus-metadata scans (predicate pushdown
    to the parquet scan, masked by kernel.live_docs); range scans
    doc_stats and also carries (shard, slice) (_range_doc_ids); anything
    else compiles to the AST and runs the engine's unscored match (which
    already masks). Callers that hand the rows back select ``doc_id``."""
    from pyspark.sql import functions as F

    from bitfunnel_spark.plans.kernel import live_docs

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
    return live_docs(index, out)


def _pop_bool_ranges(query) -> tuple[dict | None, list, list]:
    """(query, positive clauses, negated clauses): pop the metadata-class
    kinds (_KIND_CLASS) out of a bool's `filter` and `must_not` lists,
    leaving the residual bool (None when nothing else is left); any other
    query passes through with no clauses. The popped clauses run as the
    request's restriction (_restricted: semi-joins for filter, anti-joins
    for must_not — the ES "field is missing" idiom), not as AST clauses;
    in must/should they reject loudly (filter context only: a metadata
    predicate never contributes relevance)."""
    if not (isinstance(query, dict) and set(query) == {"bool"}):
        return query, [], []
    body = query["bool"]
    _require(isinstance(body, dict), "bool expects an object")
    for key in ("must", "should"):
        v = body.get(key, [])
        for c in (v if isinstance(v, list) else [v]):
            if _kind_class(c) == "metadata":
                raise DslError(
                    f"{next(iter(c))} belongs in bool.filter (or "
                    f"bool.must_not), not bool.{key} — it is "
                    "filter-context: no relevance contribution"
                )
    v = body.get("filter", [])
    clauses = v if isinstance(v, list) else [v]
    v = body.get("must_not", [])
    nots = v if isinstance(v, list) else [v]
    pos = [c for c in clauses if _kind_class(c) == "metadata"]
    neg = [c for c in nots if _kind_class(c) == "metadata"]
    if not pos and not neg:
        return query, [], []
    residual = {k2: v2 for k2, v2 in body.items()
                if k2 not in ("filter", "must_not")}
    rest_f = [c for c in clauses if _kind_class(c) != "metadata"]
    rest_n = [c for c in nots if _kind_class(c) != "metadata"]
    if rest_f:
        residual["filter"] = rest_f
    if rest_n:
        residual["must_not"] = rest_n
    return ({"bool": residual} if residual else None), pos, neg


def _range_restrict(index, pos: list, neg: list = ()):
    """One restriction frame: the intersection of the positive metadata
    clauses' doc sets (chained semi-joins, _semi), minus the negated
    clauses' sets (anti-joins). With only negations, the base is the
    narrow doc_stats scan. Carries (doc_id, shard, slice) whenever a
    clause scanned doc_stats, else doc_id alone."""
    from bitfunnel_spark.plans.kernel import _semi

    out = None
    for conf in pos:
        ids = _filter_doc_ids(index, conf)
        out = ids if out is None else _semi(out, ids)
    if neg:
        if out is None:
            out = index.doc_stats.select("doc_id", "shard", "slice")
        for conf in neg:
            out = out.join(_filter_doc_ids(index, conf), "doc_id", "left_anti")
    return out


def _restricted(index, pos: list = (), neg: list = (), post_filter=None):
    """``index``, or its copy (FullTextIndex.restricted) whose every query
    ANDs in a request's doc-metadata clauses (_pop_bool_ranges) and its
    post_filter: one restriction channel for every route, which the
    kernel cogroups into per-(shard, slice) allow arrays — no doc array
    collected to the driver, no size cap."""
    from bitfunnel_spark.plans.kernel import _semi

    restrict = _range_restrict(index, pos, neg)
    if post_filter is not None:
        pf = _filter_doc_ids(index, post_filter)
        restrict = pf if restrict is None else _semi(restrict, pf)
    return index if restrict is None else index.restricted(restrict)


def _filter_only(kind: str, conf) -> tuple[dict, float]:
    """(filter query, constant score) of a filter-only kind:
    constant_score's filter and boost, match_all's optional boost, else
    the kind itself at 1.0."""
    if kind == "constant_score":
        _require(isinstance(conf, dict) and "filter" in conf
                 and not set(conf) - {"filter", "boost"},
                 "constant_score needs {filter: ..., boost?: n}")
        return conf["filter"], float(conf.get("boost", 1.0))
    score = 1.0
    if kind == "match_all" and isinstance(conf, dict):
        conf = dict(conf)
        score = float(conf.pop("boost", 1.0))
    return {kind: conf}, score


# ---------------------------------------------------------------------------
# _search routing: _route reads the body against _CLASSES and _ROUTES, then
# search_dsl runs the route's executor under the request's restriction and
# one shared tail (min_score, from, _source / fields).

# kind class -> (the body keys its queries compose with — query and size
# compose with everything, `fields` is `_source` — and why the rest reject)
_CLASSES = {
    "ast": (("from", "_source", "post_filter", "min_score", "sort",
             "highlight", "collapse", "search_after", "rescore", "explain"),
            ""),
    "combinator": (("from", "_source", "post_filter", "min_score"),
                   "a serving-combinator kind has no single AST query to "
                   "re-rank, page or explain"),
    "unrestricted": (("from", "_source", "min_score"),
                     "a serving-combinator kind with no single AST query, "
                     "whose executor reads positions, postings, pinned ids "
                     "or a vector store outside the restricted match"),
    **dict.fromkeys(_FILTER_ONLY, (("from", "_source"), (
        "a filter-only kind (constant score, doc_id order) is no scoring "
        "query, and these keys need an AST main query — an AST query that "
        "ranks"))),
}


class Route(NamedTuple):
    """A routed `_search` body: the route's name (_ROUTES), the query its
    executor runs (a bool's residual once its doc-metadata clauses are
    popped), the rows it fetches (``k`` = size + from), the shared tail's
    keys, the restriction (_restricted's positive and negated metadata
    clauses, post_filter), and ``arg``, the route key's parsed value."""

    name: str
    query: object
    k: int
    frm: int = 0
    source: tuple = ()
    min_score: float | None = None
    restrict: tuple = ((), (), None)
    arg: object = None


def _source_cols(source) -> tuple:
    """The corpus columns a `_source` / `fields` spec names (() for none;
    ES allows a bare string, e.g. "_source": "repo")."""
    if not source:
        return ()
    if isinstance(source, str):
        source = [source]
    _require(isinstance(source, (list, tuple)),
             f"_source must be a field name or list of field names, got "
             f"{type(source).__name__}")
    bad = [c for c in source if c not in _SOURCE_FIELDS]
    _require(not bad, f"unknown _source fields: {bad} (known: {list(_SOURCE_FIELDS)})")
    return tuple(source)


def _unknown_keys(body: dict, known) -> None:
    """Reject body keys no route reads — silently dropping a clause the
    caller sent is the worst failure mode for a search API — pointing at
    the executors that do run them."""
    unknown = set(body) - set(known)
    if unknown & {"aggs", "aggregations"}:
        raise DslError("aggregation bodies run via run_aggs(index, body) — "
                       "_search hits and aggs are separate executors here")
    if unknown & {"knn", "retriever", "rank"}:
        raise DslError("vector/hybrid bodies run via plans.vector_dsl "
                       "(knn_search / rrf_search / rerank_search)")
    _require(not unknown, f"unsupported _search body keys: {sorted(unknown)}")


def _route(body, k: int = 10) -> Route:
    """Route one `_search` body from the body alone — no index, no
    DataFrame, no Spark import: validate its keys, pick the route
    (_ROUTES) and raise every composition DslError — a key that neither
    the route nor the query's kind class (_CLASSES) composes with."""
    if isinstance(body, dict) and "suggest" in body:
        _require("query" not in body,
                 "suggest-only bodies supported (no query alongside)")
        _unknown_keys(body, ("suggest", "size"))
        return Route("suggest", None, _page(body, k)[0], arg=body["suggest"])
    if not (isinstance(body, dict) and isinstance(body.get("query"), dict)):
        body = {"query": body}  # a bare query object
    _unknown_keys(body, ("query", "size", "fields", *_CLASSES["ast"][0]))
    # ES from+size shallow paging fetches from+size rows and skips `from`;
    # ES caps it at max_result_window (10,000), and so does this engine —
    # deep pages belong to search_after (k-row at any depth)
    k, frm, min_score = _page(body, k)
    _require(0 <= frm and frm + k <= 10_000,
             "from + size must stay within 10,000 (ES max_result_window); "
             "use search_after for deep pages")
    _require(isinstance(body.get("explain", False), bool), "explain must be a boolean")
    source = body.get("_source")
    if "fields" in body:
        # ES `fields` (doc values in a per-hit section) renders flattened
        # exactly like `_source` columns, so the two are aliases — but
        # not both at once. "_source": false + fields is ES's canonical
        # usage (source disabled), not a second retrieval spec.
        _require(source is None or source is False,
                 "fields and _source are aliases here — pass one")
        source = body["fields"]
    post_filter = body.get("post_filter")
    _require(post_filter is None or (isinstance(post_filter, dict) and len(post_filter) == 1),
             "post_filter must be a single-kind query object")
    # the keys in play: set (not None), `from` past 0, `explain` true
    vals = {**body, "_source": source, "from": frm or None,
            "explain": body.get("explain") or None}
    on = {key for key in _CLASSES["ast"][0] if vals.get(key) is not None}
    query, pos, neg = _pop_bool_ranges(body["query"])
    _require(query is not None,
             "a bool of only metadata filters has no scoring query: use a "
             "standalone filter-only query (constant-score semantics) or "
             "_count instead")
    cls = _kind_class(query)
    keys, why = _CLASSES[cls]
    bad = on - set(keys)
    if bad:
        raise DslError(f"{next(iter(query))} does not compose with "
                       f"{'/'.join(sorted(bad))}: {why}")
    name = next((r for r in _ROUTES if r in on),
                "filter_only" if cls in _FILTER_ONLY else "hits")
    parse, _, keys = _ROUTES[name]
    extra = on - {name} - set(keys)
    _require(not extra, f"{name} composes with query/size/{'/'.join(keys)} "
                        f"only, not {'/'.join(sorted(extra))} — pick one")
    arg = parse(body[name]) if parse else None
    _require(name != "rescore" or k + frm <= arg[0],
             "from + size must fit inside window_size (hits past the window "
             "would be un-rescored)")
    return Route(name, query, k + frm, frm, _source_cols(source), min_score,
                 (pos, neg, post_filter), arg)


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


def _cursor(search_after) -> tuple[float, int]:
    """ES search_after: the next page strictly after a cursor in the total
    order. This engine ranks (score desc, doc_id asc), so the cursor is
    [last_score, last_doc_id] — the ES idiom of sorting [_score,
    tiebreak-field]."""
    _require(isinstance(search_after, (list, tuple)) and len(search_after) == 2,
             "search_after takes [last_score, last_doc_id]")
    score, doc = search_after
    _require(isinstance(score, (int, float)) and not isinstance(score, bool),
             "search_after cursor is [last_score, last_doc_id] — the "
             "first element must be a number (the last page's score)")
    _require((isinstance(doc, int) and not isinstance(doc, bool))
             or (isinstance(doc, float) and doc.is_integer()),
             "search_after cursor is [last_score, last_doc_id] — the "
             "second element must be an integral doc_id (a fractional "
             "value usually means the cursor is swapped)")
    return float(score), int(doc)


def _collapse_arg(collapse) -> tuple[str, int]:
    """(field, per_group) of an ES collapse: the best hit per distinct
    value of a keyword field; `inner_hits: {size: n}` widens each group to
    its best n docs (the flattened rendering of ES's per-hit inner hit
    lists)."""
    _require(isinstance(collapse, dict) and isinstance(collapse.get("field"), str),
             "collapse needs {'field': <keyword field>}")
    extra = set(collapse) - {"field", "inner_hits"}
    _require(not extra, f"unsupported collapse options: {sorted(extra)}")
    ih = collapse.get("inner_hits", {"size": 1})
    _require(isinstance(ih, dict) and set(ih) == {"size"},
             "collapse.inner_hits takes exactly {'size': n}")
    _require(isinstance(ih["size"], int) and not isinstance(ih["size"], bool)
             and 1 <= ih["size"] <= 100,
             "inner_hits.size must be an int in [1, 100]")
    _require(collapse["field"] in ("repo", "lang", "path", "commit"),
             "collapse field must be corpus metadata (repo/lang/path/commit)")
    return collapse["field"], ih["size"]


def _one_tag(conf: dict, key: str) -> str | None:
    v = conf.get(key)
    if isinstance(v, list):
        _require(len(v) == 1 and isinstance(v[0], str),
                 f"{key} takes exactly one tag string")
        return v[0]
    _require(v is None or isinstance(v, str), f"{key} must be a string or [string]")
    return v


def _highlight_tags(highlight) -> tuple[str, str] | None:
    """serving.snippets' (pre, post) tags for an ES highlight on the
    content field. pre/post_tags take ES's list-of-one shape or a bare
    string, at the highlight level or per field (field wins); either tag
    alone defaults its pair to ES's <em> family. Unknown options reject
    (silently dropping number_of_fragments / fragment_size would
    misrepresent the single-fragment subset)."""
    frag = highlight if isinstance(highlight, dict) else {}
    fields = frag.get("fields")
    _require(isinstance(fields, dict) and set(fields) <= {"content", "body", "text"},
             "highlight supports the content field")
    extra = set(frag) - {"fields", "pre_tags", "post_tags"}
    _require(not extra, f"unsupported highlight options: {sorted(extra)}")
    _require(len(fields) == 1, "highlight takes exactly one field")
    (fconf,) = fields.values()
    _require(isinstance(fconf, dict) and not (set(fconf) - {"pre_tags", "post_tags"}),
             "per-field highlight options: pre_tags/post_tags only")
    # validate BOTH levels, then let the field level win on a None
    # comparison — truthiness would drop an explicit empty-string tag
    pre, post = (next((t for t in (_one_tag(fconf, key), _one_tag(frag, key))
                       if t is not None), None)
                 for key in ("pre_tags", "post_tags"))
    if pre is None and post is None:
        return None
    return ("<em>" if pre is None else pre, "</em>" if post is None else post)


def _rescore_arg(rescore) -> tuple[int, dict]:
    """(window_size, rescore.query) of an ES rescore: {"window_size": n,
    "query": {"rescore_query": {...}, "query_weight": w,
    "rescore_query_weight": rw, "score_mode": m}}. window_size defaults to
    100, where ES defaults to 10."""
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
    _require(isinstance(sub, dict) and len(sub) == 1 and _kind_class(sub) == "ast",
             "rescore_query must be an AST query kind")
    window = rescore.get("window_size", 100)
    _require(isinstance(window, int) and not isinstance(window, bool)
             and 1 <= window <= 10_000,
             "window_size must be an int in [1, 10000]")
    return window, rq


def _explain_hits(index, r: Route):
    # ES "explain": true, flattened (the inner_hits precedent) to
    # serving.explain's DataFrame[(doc_id, score, stream, term, tf,
    # contribution)]: one row per (result doc, scoring key), contributions
    # summing to the doc's score — not a hits page, so no page key applies
    from bitfunnel_spark.plans import serving

    return serving.explain(index, compile_dsl(r.query), k=r.k)


def _rescore_hits(index, r: Route):
    # Lucene QueryRescorer: re-rank the top window_size primary hits by
    # blending in a second query's score (serving.rescore: the second arm
    # runs ONCE and broadcast-joins the ≤window-row frame)
    from bitfunnel_spark.plans import serving

    window, rq = r.arg
    score_mode = rq.get("score_mode", "total")
    _require(score_mode in serving._RESCORE_MODES,
             f"score_mode must be one of {serving._RESCORE_MODES}")
    return serving.rescore(
        index, compile_dsl(r.query), compile_dsl(rq["rescore_query"]),
        window_size=window,
        query_weight=float(rq.get("query_weight", 1.0)),
        rescore_weight=float(rq.get("rescore_query_weight", 1.0)),
        score_mode=score_mode, k=r.k,
    )


def _search_after_hits(index, r: Route):
    # index.search_after: k rows at any depth, block-max aware — never the
    # from+size over-fetch
    return index.search_after(compile_dsl(r.query), r.arg, k=r.k)


def _collapse_hits(index, r: Route):
    # serving.collapse_topk over the FULL scored match set (groupBy.max_by,
    # so a mega-group combines map-side; per_group > 1 is one window
    # partitioned by the collapse field)
    from bitfunnel_spark.plans import serving

    by, per_group = r.arg
    return serving.collapse_topk(index, compile_dsl(r.query), by=by, k=r.k,
                                 per_group=per_group)


def _sort_hits(index, r: Route):
    from bitfunnel_spark.plans import serving

    by, ascending = r.arg
    return serving.sort_hits(index, compile_dsl(r.query), by=by,
                             ascending=ascending, k=r.k)


def _highlight_hits(index, r: Route):
    from bitfunnel_spark.plans import serving

    return serving.snippets(index, compile_dsl(r.query), k=r.k, tags=r.arg)


def _filter_only_hits(index, r: Route):
    """The filter's match set scored at a constant, ordered by doc_id (ES
    ties break on doc order), top-k."""
    from pyspark.sql import functions as F

    (kind, conf), = r.query.items()
    filt, score = _filter_only(kind, conf)
    return (
        _filter_doc_ids(index, filt).orderBy("doc_id").limit(r.k)
        .select(F.col("doc_id"),
                F.round(F.lit(score), 4).cast("double").alias("score"))
    )


def _plain_hits(index, r: Route):
    if _kind_class(r.query) in _COMBINATOR_CLASSES:
        return _serving_query(index, *next(iter(r.query.items())), k=r.k)
    return index.search(compile_dsl(r.query), k=r.k)


# route -> (the parser of its body key, its executor, and the body keys it
# composes with besides query and size). _route tries the rows in order
# and takes the first whose key is in the body; a body with none runs
# filter_only (filter-only kinds) or hits. No route composes with an
# earlier route's key, so any two route keys reject. msearch is one body
# of an msearch batch: the batched kernel job reads query and size only.
_ROUTES = {
    "explain": (None, _explain_hits, ("post_filter",)),
    # window_size defaults to 100, where ES defaults to 10
    "rescore": (_rescore_arg, _rescore_hits, ("from", "_source", "post_filter")),
    "search_after": (_cursor, _search_after_hits, ("_source", "post_filter")),
    "collapse": (_collapse_arg, _collapse_hits, ("from", "_source", "post_filter")),
    "sort": (_sort_clause, _sort_hits, ("from", "_source", "post_filter")),
    "highlight": (_highlight_tags, _highlight_hits,
                  ("from", "_source", "post_filter", "min_score")),
    "filter_only": (None, _filter_only_hits, ("from", "_source")),
    "hits": (None, _plain_hits, ("from", "_source", "post_filter", "min_score")),
    "msearch": (None, None, ()),
}


def search_dsl(index, body: dict, k: int = 10):
    """Run an ES `_search`-style body: `{"query": {...}}` (or a bare query
    object) through the engine. _route picks the executor from the route
    table (_ROUTES) and rejects every body key that the route or the
    query's kind class (_CLASSES) does not compose with. The request's
    doc-metadata restriction (metadata kinds in bool.filter / must_not,
    post_filter) rides an index copy (_restricted) into every route. One
    tail then applies min_score, from, and `_source` / `fields`: the named
    corpus columns joined onto the k-row page (broadcast, so field
    fetching never reorders or re-shuffles the match set)."""
    r = _route(body, k)
    if r.name == "suggest":
        return run_suggest(index, r.arg, k=r.k)
    index = _restricted(index, *r.restrict)
    hits = _ROUTES[r.name][1](index, r)
    if r.min_score is not None:
        # the page is score-ordered, so flooring the fetched page equals
        # flooring the full result then paging (4 dp scores, as ranked)
        from pyspark.sql import functions as F

        hits = hits.filter(F.col("score") >= r.min_score)
    if r.frm:
        hits = hits.offset(r.frm)
    return _fetch_source(index, hits, r.source,
                         order_cols=(r.arg,) if r.name == "sort" else ())


def _match_ids(index, query: dict, api: str = "_count"):
    """DataFrame[doc_id] of the query's unscored match set — the shared
    plan behind ``_count`` and ``_delete_by_query``: a pushed-down
    doc-metadata scan for the filter-only kinds, the engine match set for
    AST kinds, under the restriction (_restricted) of a bool's
    doc-metadata clauses. Tombstoned docs are always excluded. Combinator
    kinds reject (their executors produce rankings; their match
    semantics, where needed, are expressible as bool/AST)."""
    from bitfunnel_spark.plans.kernel import live_docs

    _require(isinstance(query, dict) and len(query) == 1,
             f"{api} needs a single-kind query object")
    (kind, conf), = query.items()
    cls = _kind_class(query)
    _require(cls not in _COMBINATOR_CLASSES,
             f"{api} takes AST or filter-only queries, not {kind!r}")
    if cls in _FILTER_ONLY:
        return _filter_doc_ids(index, _filter_only(kind, conf)[0]).select("doc_id")
    query, pos, neg = _pop_bool_ranges(query)
    if query is None:
        # counting needs no scoring query: the restriction is the match set
        return live_docs(index, _range_restrict(index, pos, neg)).select("doc_id")
    return _restricted(index, pos, neg).match(compile_dsl(query)).select("doc_id")


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
#: likewise an in-memory row, Row.h:34-35, and every query ships the set in
#: its kernel closure), so it caps the set a single call may add. A mass
#: deletion past the cap is a physical-layout operation, not a tombstone
#: update: run a filtered rebuild / compaction
#: (streaming/ingest.compact drops tombstoned docs; FullTextIndex.build
#: over corpus.join(match, "left_anti") rewrites without them).
MAX_DELETE_DOCS = 5_000_000


def delete_by_query(index, body: dict) -> int:
    """ES ``_delete_by_query``: soft-delete every document matching the
    query; returns the number deleted (ES's ``deleted`` field). Deletion
    is the engine's standing tombstone semantics (index.delete_docs):
    matching stops immediately; epoch stats (df/idf/
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
        cls = _kind_class(query)
        if cls in _COMBINATOR_CLASSES:
            return True, f"{next(iter(query))} (serving combinator)"
        if cls in _FILTER_ONLY:
            return True, f"{next(iter(query))} (filter-only, constant score)"
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


def _fetch_source(index, hits, source: tuple, order_cols=()):
    """Join the `_source` corpus columns (_source_cols) onto a k-row hits
    frame (broadcast, never reshuffling the match set). `order_cols`:
    result columns that replace `score` in the output ordering
    (field-sort results)."""
    if not source:
        return hits
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
        if _kind_class(q) in _COMBINATOR_CLASSES:
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
    A `{"query": ...}` body takes only the keys the route table gives the
    batched route (_ROUTES["msearch"]: query and size); any other key
    rejects before the index is touched — run such a body through
    search_dsl."""
    _require(isinstance(bodies, (list, tuple)) and bodies,
             "msearch needs a non-empty list of bodies")
    sizes = []
    for b in bodies:
        if isinstance(b, dict) and "query" in b:
            extra = sorted(set(b) - {"query", "size", *_ROUTES["msearch"][2]})
            if extra:
                raise DslError(f"msearch bodies don't support {extra[0]!r}")
        size = _page(b, k)[0] if isinstance(b, dict) else k
        _require(size >= 1, "msearch size must be >= 1")
        sizes.append(size)
    from bitfunnel_spark.plans.batch import search_many

    return search_many(index, compile_bodies(bodies), k=sizes)


# ---------------------------------------------------------------------------
# Option tables. Every combinator kind (_COMBINATORS) and aggregation kind
# (_AGGS, _TERMS_SUBS) declares its options once, as {name: Opt}, and _read
# reads a conf against that declaration: an unknown option, a missing
# required one or a malformed value raises DslError before any executor
# runs — never a silent drop, never a raw TypeError.

_REQ = object()  # the Opt.default of a required option


class Opt(NamedTuple):
    """One declared option. ``check(value, label)`` validates a given value
    and returns what the executor takes; ``default`` (already in executor
    form) fills an absent one, _REQ makes it required; ``to`` is the
    executor keyword (None: the option's own name; "": checked, not
    passed)."""

    check: object
    default: object = _REQ
    to: str | None = None


def _read(conf, spec: dict, what: str) -> dict:
    """``conf`` read against ``spec``: {executor keyword: value}."""
    _require(isinstance(conf, dict), f"{what} expects an object")
    unknown = set(conf) - set(spec)
    _require(not unknown, f"unsupported {what} options: {sorted(unknown)} "
                          f"({what} takes {sorted(spec)})")
    required = [name for name, opt in spec.items() if opt.default is _REQ]
    _require(set(required) <= set(conf), f"{what} needs {' and '.join(required)}")
    out = {}
    for name, (check, default, to) in spec.items():
        value = check(conf[name], f"{what}.{name}") if name in conf else default
        if to != "":
            out[to or name] = value
    return out


def _check(what: str, test, conv=None):
    """An Opt check: a value passing ``test`` is returned (through
    ``conv``); any other value raises DslError saying it must be ``what``."""
    def check(v, label):
        _require(test(v), f"{label} must be {what}, got {v!r}")
        return v if conv is None else conv(v)
    return check


def _conv(fn):
    """An Opt check that is a parser raising its own DslError."""
    return lambda v, label: fn(v)


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _one_of(*domain):
    return _check(" or ".join(domain), lambda v: isinstance(v, str) and v in domain)


_NUM = _check("a number", _is_num, float)
_INT = _check("an integer", lambda v: _is_num(v) and (
    isinstance(v, int) or v.is_integer()), int)
_BOOL = _check("a boolean", lambda v: isinstance(v, bool))
_STR = _check("a non-empty string", lambda v: isinstance(v, str) and v != "")
_LOWER = lambda v, label: _STR(v, label).lower()  # noqa: E731
_LIST = _check("a non-empty list", lambda v: isinstance(v, list) and v != [])
_OBJ = _check("an object", lambda v: isinstance(v, dict))
_NUMS = _check("a non-empty list of numbers",
               lambda v: isinstance(v, list) and v != [] and all(map(_is_num, v)),
               lambda v: tuple(map(float, v)))
_CLAUSE = _conv(lambda q: _clause_string(q))
_SPAN_TERM = _conv(lambda q: _span_term(q))
# a _search body's page keys (size defaults to the caller's k)
_PAGE = {"size": Opt(_INT, None), "from": Opt(_INT, 0), "min_score": Opt(_NUM, None)}


def _page(body: dict, k: int) -> tuple[int, int, float | None]:
    """(size, from, min_score) of a body, read against _PAGE."""
    o = _read({key: v for key, v in body.items() if key in _PAGE}, _PAGE, "_search")
    return (k if o["size"] is None else o["size"]), o["from"], o["min_score"]


def _serving(name: str, **fixed):
    """A row executor: the serving-layer function ``name`` (imported on
    call — routing and the option tables import no Spark)."""
    def run(*args, **kwargs):
        from bitfunnel_spark.plans import serving

        return getattr(serving, name)(*args, **fixed, **kwargs)
    return run


def _clauses(v, label) -> list[str]:
    return [_clause_string(q) for q in _LIST(v, label)]


def _fields(v, label) -> list[str]:
    """multi_match fields as streams, keeping each `^weight`."""
    return [_stream(f) + (f"^{w}" if w else "")
            for f, _, w in (str(s).partition("^") for s in _LIST(v, label))]


def _like(v, label) -> int:
    """more_like_this's one source document: like [{"_id": <doc_id>}]."""
    like = [v] if isinstance(v, dict) else v
    _require(isinstance(like, list) and len(like) == 1
             and isinstance(like[0], dict) and set(like[0]) == {"_id"}
             and str(like[0]["_id"]).isdigit(),
             "more_like_this supports like: [{'_id': <doc_id>}]")
    return int(like[0]["_id"])


def _sparse_vector(index, k, field, query_vector):
    # ES 8.15 sparse_vector (learned-sparse / ELSER-shape retrieval) with
    # pre-computed query weights: score(d) = Σ_t w_t · tf(t, d) — the
    # dot_tf similarity, with weights riding the Boost machinery. Tokens
    # are features (used verbatim, lowercased — ES does not re-analyze
    # them either); absent tokens contribute nothing.
    _require(_stream(field) == "body",
             "sparse_vector scores the body field (tf impacts are stored "
             "for body postings)")
    _require(bool(query_vector),
             "sparse_vector needs a query_vector of {token: weight}")
    for tok, w in query_vector.items():
        _require(isinstance(tok, str) and tok, f"bad sparse token {tok!r}")
        _require(_is_num(w) and w > 0,
                 f"sparse weight for {tok!r} must be > 0, got {w!r}")
    clauses = tuple(Boost(Term(tok.lower(), "body"), float(w))
                    for tok, w in sorted(query_vector.items()))
    node = clauses[0] if len(clauses) == 1 else Or(clauses)
    return index.search(node, k=k, similarity="dot_tf")


_INTERVAL_RULES = {
    "match": {"query": Opt(_STR), "max_gaps": Opt(_INT, -1),
              "ordered": Opt(_BOOL, False)},
    "all_of": {"intervals": Opt(_LIST), "max_gaps": Opt(_INT, -1),
               "ordered": Opt(_BOOL, False)},
}


def _interval_tokens(rule) -> tuple[list[str], int, bool]:
    """(tokens, max_gaps, ordered) of an intervals rule: `match`, or
    `all_of` over single-token `match` rules."""
    _require(isinstance(rule, dict) and len(rule) == 1,
             "an intervals rule is a single-kind object")
    (kind, conf), = rule.items()
    _require(kind in _INTERVAL_RULES,
             f"unsupported intervals rule {kind!r} (supported: match, "
             "all_of over single-token matches)")
    o = _read(conf, _INTERVAL_RULES[kind], f"intervals {kind}")
    if kind == "match":
        toks = _analyze(o["query"])
        _require(bool(toks), f"match analyzes to zero tokens: {o['query']!r}")
        return toks, o["max_gaps"], o["ordered"]
    toks = []
    for sub in o["intervals"]:
        st, sg, so = _interval_tokens(sub)
        _require(len(st) == 1 and sg == -1 and not so,
                 "all_of sub-intervals must be single-token match rules "
                 "(nested windows are not modeled)")
        toks.extend(st)
    return toks, o["max_gaps"], o["ordered"]


def _intervals(index, conf, k):
    # ES intervals query — documented subset mapped onto the engine's
    # positional executors: `match` rules (and `all_of` over single-token
    # `match` sub-rules, ES's common composition) with ordered/unordered +
    # max_gaps. ordered+bounded → sloppy phrase (ordered window
    # (n-1)+max_gaps); unordered+bounded → span_near; unlimited gaps (-1,
    # the ES default) → plain conjunction. any_of / filter / prefix /
    # wildcard rules raise loudly.
    from bitfunnel_spark.plans import serving

    _require(isinstance(conf, dict) and len(conf) == 1,
             "intervals needs exactly one field")
    (field, rule), = conf.items()
    _require(_stream(field) == "body",
             "intervals runs on the body field (positions are stored for "
             "body postings)")
    toks, gaps, ordered = _interval_tokens(rule)
    if len(toks) == 1:
        return index.search(Term(toks[0], "body"), k=k)
    if gaps < 0:  # unlimited gaps: pure conjunction, order unobservable
        _require(not ordered,
                 "ordered intervals need max_gaps >= 0 (an unbounded "
                 "ordered subsequence is not modeled)")
        return index.search(And(tuple(Term(t, "body") for t in toks)), k=k)
    if ordered:
        return index.search(Phrase(tuple(toks), "body", slop=gaps), k=k)
    return serving.span_near(index, toks, slop=gaps, k=k)


_RANK_FEATURE_FNS = {"pivot": Opt(_NUM, None), "exponent": Opt(_NUM, 1.0),
                     "scaling_factor": Opt(_NUM, 1.0)}


def _one_function(fns: dict, what: str):
    """(name, conf) of the one function a kind was given, (None, None) for
    none."""
    given = [(name, conf) for name, conf in fns.items() if conf is not None]
    _require(len(given) <= 1, f"{what} takes exactly one function")
    return given[0] if given else (None, None)


def _rank_feature(index, k, saturation=None, log=None, sigmoid=None, **opts):
    # ES rank_feature: a static per-doc numeric feature through a bounded
    # monotone function (serving.rank_feature). ES's standalone form
    # matches every doc carrying the feature.
    from bitfunnel_spark.plans import serving

    fn, conf = _one_function(
        {"saturation": saturation, "log": log, "sigmoid": sigmoid}, "rank_feature")
    fn = fn or "saturation"
    return serving.rank_feature(index, fn=fn, k=k, **opts,
                                **_read(conf or {}, _RANK_FEATURE_FNS, fn))


_FIELD_VALUE_FACTOR = {"field": Opt(_STR, "doclen"), "modifier": Opt(_STR, "none"),
                       "factor": Opt(_NUM, 1.0)}
_RANDOM_SCORE = {"seed": Opt(_INT, 17),
                 "field": Opt(_one_of("_seq_no", "doc_id", "_id"), None, "")}
# origin and scale have no default; _function_score raises their message
_DECAY = {"origin": Opt(_NUM, None), "scale": Opt(_NUM, None),
          "offset": Opt(_NUM, 0.0), "decay": Opt(_NUM, 0.5)}
_DECAY_FIELDS = {"doclen": "doclen", "length": "doclen",
                 "doc_id": "doc_id", "_id": "doc_id"}


def _function_score(index, k, query, boost_mode, **fns):
    """ES function_score with one function: field_value_factor,
    random_score, or a gauss/exp/linear decay."""
    from bitfunnel_spark.plans import serving

    fn, conf = _one_function(fns, "function_score")
    _require(fn is not None, "function_score supports field_value_factor, "
                             "random_score and the gauss/exp/linear decay functions")
    if fn == "field_value_factor":
        return serving.function_score(index, query, boost_mode=boost_mode, k=k,
                                      **_read(conf, _FIELD_VALUE_FACTOR, fn))
    if fn == "random_score":
        # serving.random_score's documented LCG mix (ES's own is a
        # seed+field hash; both are deterministic, neither is portable to
        # the other); an absent seed, where ES randomizes, stays
        # deterministic on the function's default; doc_id identity is the
        # only per-doc source, whichever field is named
        return serving.random_score(index, query, boost_mode=boost_mode, k=k,
                                    **_read(conf, _RANDOM_SCORE, fn))
    # ES decay functions: {"gauss": {field: {"origin": o, "scale": s,
    # "offset": ..., "decay": ...}}} → serving.decay_score (exact public ES
    # formulas, one narrow feature join)
    _require(len(conf) == 1, f"{fn} takes exactly one field")
    (field, params), = conf.items()
    # numeric doc metadata only, validated HERE: an unknown or text field
    # would otherwise surface as an ANSI cast error (or a silent factor-1
    # no-op with ANSI off) deep in execution
    _require(field in _DECAY_FIELDS, f"{fn} field must be numeric doc metadata "
                                     "(doclen/length, doc_id/_id)")
    p = _read(params, _DECAY, fn)
    for label in ("origin", "scale"):
        _require(p[label] is not None, f"{fn}.{label} must be a number")
    # the closed forms need log(decay)/scale finite and nonzero
    _require(p["scale"] > 0, f"{fn}.scale must be > 0")
    _require(0.0 < p["decay"] < 1.0, f"{fn}.decay must be in (0, 1)")
    _require(p["offset"] >= 0.0, f"{fn}.offset must be >= 0")
    return serving.decay_score(index, query, field=_DECAY_FIELDS[field], kind=fn,
                               boost_mode=boost_mode, k=k, **p)


_SCRIPT = {"source": Opt(_STR, to="script"), "params": Opt(_OBJ, {})}


def _script_score(index, k, query, script):
    # ES script_score: the painless-lite expression IS the score
    # (serving.script_score) — bindings: _score, doclen, params.*
    from bitfunnel_spark.plans import serving

    if isinstance(script, str):
        script = {"source": script}
    return serving.script_score(index, query, k=k, **_read(script, _SCRIPT, "script"))


def _span_or(index, k, clauses):
    # standalone span_or: any occurrence of any clause term is a span, so
    # the match set is the plain OR of the terms — scored with the
    # engine's BM25 convention (the span family's standing contract; ES's
    # span scoring differs, documented deviation)
    _require(len(set(clauses)) == len(clauses), "span_or clauses must be distinct")
    terms = tuple(Term(t, "body") for t in clauses)
    return index.search(terms[0] if len(terms) == 1 else Or(terms), k=k)


def _span_near(index, k, clauses, slop, in_order):
    from bitfunnel_spark.plans import serving

    if in_order:
        # ordered near ≡ the engine's sloppy phrase (order preserved, up
        # to `slop` interleaved tokens). Alternation needs the unordered
        # evaluator.
        _require(all(isinstance(s, str) for s in clauses),
                 "span_or inside span_near needs in_order=false")
        return index.search(Phrase(tuple(clauses), slop=slop), k=k)
    return serving.span_near(index, clauses, slop=slop, k=k)


def _span_first(index, k, term, end):
    from bitfunnel_spark.plans import serving

    return serving.span_first(index, term, term, end, k=k)


def _span_not(index, k, include, exclude, pre, post, dist):
    from bitfunnel_spark.plans import serving

    if dist is not None:  # ES alias for pre == post
        pre = post = dist
    return serving.span_not(index, include, exclude, pre=pre, post=post, k=k)


class Combinator(NamedTuple):
    """A combinator kind: its kind class (_KIND_CLASS), its options (None:
    a structural body its executor parses whole) and its executor, called
    as run(index, k=..., **options)."""

    cls: str
    spec: dict | None
    run: object


# The combinator kinds: ES query kinds that run on serving-layer executors
# instead of one AST node. Field names map through FIELD_TO_STREAM;
# sub-queries must be query_string/term/match (_clause_string).
_COMBINATORS = {
    "multi_match": Combinator("combinator", {
        "query": Opt(_STR, to="text"), "fields": Opt(_fields, ["body"]),
        "type": Opt(_STR, "best_fields", "mm_type"),
        "tie_breaker": Opt(_NUM, 0.0), "operator": Opt(_LOWER, "or"),
    }, _serving("multi_match")),
    "dis_max": Combinator("combinator", {
        "queries": Opt(_clauses, to="clauses"), "tie_breaker": Opt(_NUM, 0.0),
    }, _serving("dis_max")),
    "boosting": Combinator("combinator", {
        "positive": Opt(_CLAUSE), "negative": Opt(_CLAUSE),
        "negative_boost": Opt(_NUM, 0.5),
    }, _serving("boosting_query")),
    "function_score": Combinator("combinator", {
        "query": Opt(_CLAUSE), "boost_mode": Opt(_STR, "multiply"),
        **dict.fromkeys(("field_value_factor", "random_score", "gauss", "exp",
                         "linear"), Opt(_OBJ, None)),
    }, _function_score),
    "script_score": Combinator("combinator", {
        "query": Opt(_CLAUSE),
        "script": Opt(_check("a string or an object",
                             lambda v: isinstance(v, (str, dict)))),
    }, _script_score),
    "rank_feature": Combinator("combinator", {
        "field": Opt(_STR), "boost": Opt(_NUM, 1.0),
        **dict.fromkeys(("saturation", "log", "sigmoid"), Opt(_OBJ, None)),
    }, _rank_feature),
    # ES distance_feature: boost · pivot / (pivot + |v − origin|) on the
    # engine's per-doc numerics (dates would reduce to the same arithmetic
    # on epoch values; date-math strings are out of the subset)
    "distance_feature": Combinator("combinator", {
        "field": Opt(_one_of("doclen", "doc_id")), "origin": Opt(_NUM),
        "pivot": Opt(_NUM), "boost": Opt(_NUM, 1.0),
    }, _serving("distance_feature")),
    "span_near": Combinator("unrestricted", {
        "clauses": Opt(lambda v, label: [_span_slot(c) for c in _LIST(v, label)]),
        "slop": Opt(_INT, 0), "in_order": Opt(_BOOL, False),
    }, _span_near),
    "span_first": Combinator("unrestricted", {
        "match": Opt(_SPAN_TERM, to="term"), "end": Opt(_INT),
    }, _span_first),
    "span_not": Combinator("unrestricted", {
        "include": Opt(_conv(lambda q: _span_tokens(q))), "exclude": Opt(_SPAN_TERM),
        "pre": Opt(_INT, 0), "post": Opt(_INT, 0), "dist": Opt(_INT, None),
    }, _span_not),
    "span_or": Combinator("unrestricted", {
        "clauses": Opt(lambda v, label: [_span_term(c) for c in _LIST(v, label)]),
    }, _span_or),
    "intervals": Combinator("unrestricted", None, _intervals),
    "sparse_vector": Combinator("unrestricted", {
        "field": Opt(_STR, "content"), "query_vector": Opt(_OBJ),
    }, _sparse_vector),
    # ES pinned query (search promotions): the ids first, in order, then
    # the organic results without them (serving.pinned)
    "pinned": Combinator("unrestricted", {
        "ids": Opt(_check("a non-empty list of doc_ids", lambda v: isinstance(v, list)
                          and v != [] and all(str(i).isdigit() for i in v))),
        "organic": Opt(_conv(lambda q: compile_dsl(q)), to="query"),
    }, _serving("pinned")),
    "more_like_this": Combinator("unrestricted", {
        "like": Opt(_like, to="doc_id"), "max_query_terms": Opt(_INT, 8, "m"),
    }, _serving("more_like_this")),
}

# query kind -> kind class; kinds not listed compile to one AST node
# (compile_dsl) and are class "ast". The class decides the executor and,
# through _CLASSES, the body keys a query of the kind composes with.
#   metadata      doc-metadata scans (_filter_doc_ids): filter-only hits,
#                 and in bool.filter / must_not the restriction plan
#   filter        constant_score: any filter at a constant score
#   combinator    serving-layer score combinators that take every match
#                 from index.match / index.scored_match, so the kernel
#                 applies the restriction plan to them
#   unrestricted  serving-layer combinators that also read positions,
#                 postings, pinned ids or a vector store outside that call
_KIND_CLASS = {
    **dict.fromkeys(("match_all", "match_none", "ids", "exists", "range"),
                    "metadata"),
    "constant_score": "filter",
    **{kind: row.cls for kind, row in _COMBINATORS.items()},
}


@_dsl_errors
def _serving_query(index, kind: str, body, k: int = 10):
    """Run a combinator kind (_COMBINATORS): its options read against its
    row's spec, then its executor."""
    row = _COMBINATORS[kind]
    if row.spec is None:
        return row.run(index, body, k=k)
    return row.run(index, k=k, **_read(body, row.spec, kind))


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
        o = _read(q["span_near"], {"clauses": Opt(_LIST), "slop": Opt(_INT, 0),
                                   "in_order": Opt(_BOOL, True)}, "span_near")
        _require(o["slop"] == 0 and o["in_order"],
                 "span_not include must be adjacent in-order (slop 0)")
        return [_span_term(c) for c in o["clauses"]]
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
# the metric kinds several sub-aggs under one terms bucket may use
# (serving.facet_metrics: one groupBy pass)
_FACET_METRICS = ("avg", "sum", "min", "max", "value_count",
                      "percentiles", "cardinality")


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise DslError(msg)


_BUCKET = _one_of(*BUCKET_FIELDS)
_DOCLEN = Opt(_one_of(*NUMERIC_FIELDS), to="")  # checked; the executor reads doclen
_PERCENTS = Opt(_NUMS, (25.0, 50.0, 75.0, 95.0))


def _named_queries(v, label) -> dict:
    _require(isinstance(v, dict) and v != {}, f"{label} must be non-empty")
    return {name: compile_dsl(q) for name, q in v.items()}


def _field_of(v, label) -> str:
    return _read(v, {"field": Opt(_STR)}, label)["field"]


def _t_side(v, label):
    """A t_test side: {field: doclen, filter: query} -> the compiled filter."""
    return _read(v, {"field": _DOCLEN, "filter": Opt(_conv(compile_dsl))},
                 label)["filter"]


def _range_edges(v, label) -> tuple:
    """range.ranges as facet_ranges' edges. facet_ranges buckets are
    contiguous half-open [edge_i, edge_{i+1}) intervals, so the ES spec
    must be contiguous and end unbounded — anything else (a bounded last
    range, a gap between `to` and the next `from`) would silently count
    docs into the wrong bucket."""
    rs = [_read(r, {"from": Opt(_INT, None), "to": Opt(_INT, None)}, label)
          for r in _LIST(v, label)]
    edges = [0 if i == 0 and r["from"] is None else r["from"]
             for i, r in enumerate(rs)]
    _require(None not in edges, "every range after the first needs a `from`")
    _require(all(a["to"] is not None and a["to"] == b["from"]
                 for a, b in zip(rs, rs[1:])),
             "ranges must be contiguous: each `to` must equal the next "
             "range's `from`")
    _require(rs[-1]["to"] is None, "last range must be unbounded (no `to`)")
    _require(edges == sorted(set(edges)), "range froms must be increasing")
    return tuple(edges)


def _distinct(fields: list, what: str) -> tuple:
    _require(len(set(fields)) == len(fields), f"{what} fields must be distinct")
    return tuple(fields)


def _multi_terms(v, label) -> tuple:
    _require(isinstance(v, list) and len(v) >= 2,
             "multi_terms needs >= 2 `terms` entries")
    return _distinct([_read(t, {"field": Opt(_BUCKET)}, "multi_terms entry")["field"]
                      for t in v], "multi_terms")


def _sources(v, label) -> list:
    """composite.sources as [(label, field)]: [{label: {"terms": {"field":
    ...}}}]."""
    out = []
    for s in _LIST(v, label):
        _require(isinstance(s, dict) and len(s) == 1,
                 "each composite source is {label: {'terms': {'field': ...}}}")
        (name, sspec), = s.items()
        _require(isinstance(sspec, dict) and set(sspec) == {"terms"},
                 "composite sources support terms only")
        out.append((name, _read(sspec["terms"], {"field": Opt(_BUCKET)},
                                "composite terms")["field"]))
    _distinct([f for _, f in out], "composite")
    return out


def _composite(index, query, sources, size, after):
    from bitfunnel_spark.plans import serving

    labels = [name for name, _ in sources]
    if after is not None:
        _require(set(after) == set(labels),
                 "composite.after keys must match the source labels")
        after = tuple(after[name] for name in labels)
    return serving.composite_agg(index, query, by=tuple(f for _, f in sources),
                                 size=size, after=after)


def _one_agg(spec, kinds, what: str):
    """(kind, conf, sub-aggs or None) of one agg spec {kind: conf,
    aggs|aggregations?: {...}}, its kind one of ``kinds``."""
    _require(isinstance(spec, dict), f"{what} spec must be an object")
    nest = [key for key in ("aggs", "aggregations") if key in spec]
    _require(len(nest) <= 1, f"{what} takes aggs or aggregations, not both")
    kind = [key for key in spec if key not in nest]
    _require(len(kind) == 1, f"{what} needs exactly one kind, got {kind}")
    _require(kind[0] in kinds, f"unsupported {what} kind: {kind[0]!r}")
    return kind[0], spec[kind[0]], spec[nest[0]] if nest and spec[nest[0]] else None


def _no_sub(kind: str, sub) -> None:
    _require(sub is None, f"{kind} takes no sub-aggs (a leaf metric or bucket here)")


def _terms(index, query, by, sub=None):
    """A terms bucket: counts, one _TERMS_SUBS sub-agg, or several metric
    sub-aggs in ONE groupBy pass (facet_metrics — never one scan per
    metric: the Kibana shape)."""
    from bitfunnel_spark.plans import serving

    if sub is None:
        return serving.facet_counts(index, query, facets=(by,))
    _require(isinstance(sub, dict), "sub-aggs must be an object")
    if len(sub) == 1:
        (_, sspec), = sub.items()
        kind, conf, nested = _one_agg(sspec, _TERMS_SUBS, "sub-agg")
        _no_sub(kind, nested)
        row = _TERMS_SUBS[kind]
        return row.run(index, query, by=by, **_read(conf, row.spec, kind))
    metrics = []
    for name, sspec in sub.items():
        kind, conf, nested = _one_agg(sspec, _FACET_METRICS, f"sub-agg {name!r}")
        _no_sub(kind, nested)
        _require(isinstance(conf, dict), f"{kind} expects an object")
        metrics.append((name, kind, dict(conf)))
    return serving.facet_metrics(index, query, by=by, metrics=metrics)


class Agg(NamedTuple):
    """An aggregation kind: its options, its executor — called as
    run(index, [query,] **options) — and two rules. ``query``: "required",
    "optional" (without one, the whole live corpus), "forbidden" (its
    filters carry their own queries) or "escapes" (read, restricted and
    compiled, but never matched: ES's global bucket). ``sub``: None (no
    sub-aggs), "terms" (the terms bucket's own: _terms), or (kind, spec):
    exactly one sub-agg of that kind, whose options join the executor's."""

    spec: dict
    run: object
    query: str = "required"
    sub: object = None


_AGGS = {
    # one bucket per named query, counted over the whole corpus
    "filters": Agg({"filters": Opt(_named_queries)}, _serving("filters_agg"),
                   "forbidden"),
    "adjacency_matrix": Agg({"filters": Opt(_named_queries)},
                            _serving("adjacency_matrix"), "forbidden"),
    # ES global bucket: ESCAPES the query context by definition — stats
    # over the whole corpus for filtered-vs-unfiltered comparison
    "global": Agg({}, _serving("global_stats"), "escapes", ("stats", {"field": _DOCLEN})),
    # Welch's two-sample test; each side carries its own filter
    "t_test": Agg({"a": Opt(_t_side, to="query_a"), "b": Opt(_t_side, to="query_b"),
                   "type": Opt(_one_of("heteroscedastic"), None, "")},
                  _serving("t_test"), "forbidden"),
    "percentile_ranks": Agg({"field": _DOCLEN, "values": Opt(_LIST)},
                            _serving("percentile_ranks")),
    # Σ(value·weight)/Σ(weight) over the match set; serving.weighted_avg
    # checks the per-doc numerics (doclen, chars)
    "weighted_avg": Agg({"value": Opt(_field_of, to="value_field"),
                         "weight": Opt(_field_of, to="weight_field")},
                        _serving("weighted_avg")),
    # the entropy is show_distribution's statistic; the per-character
    # distribution itself is not emitted, so only false is honoured
    "string_stats": Agg({"field": Opt(_BUCKET), "show_distribution": Opt(
        _check("false", lambda v: v is False), None, "")}, _serving("string_stats")),
    "composite": Agg({"sources": Opt(_sources), "size": Opt(_INT, 10),
                      "after": Opt(_OBJ, None)}, _composite),
    "sampler": Agg({"shard_size": Opt(_INT, 64)}, _serving("sampler_agg"),
                   sub=("terms", {"field": Opt(_BUCKET, to="by")})),
    "diversified_sampler": Agg({"shard_size": Opt(_INT, 64), "field": Opt(_BUCKET),
                                "max_docs_per_value": Opt(_INT, 1)},
                               _serving("diversified_sampler_agg"),
                               sub=("terms", {"field": Opt(_BUCKET, to="by")})),
    "histogram": Agg({"field": _DOCLEN, "interval": Opt(_INT, 32)},
                     _serving("histogram")),
    "extended_stats": Agg({"field": _DOCLEN}, _serving("extended_stats")),
    "range": Agg({"field": _DOCLEN, "ranges": Opt(_range_edges, to="edges")},
                 _serving("facet_ranges")),
    # significant_text is ES's re-analyzing variant of significant_terms;
    # this engine analyzes body text for both, so they share the executor
    **dict.fromkeys(("significant_terms", "significant_text"), Agg(
        {"field": Opt(_one_of("content", "body", "text"), to=""),
         "size": Opt(_INT, 20, "k")}, _serving("significant_terms"))),
    "rare_terms": Agg({"field": Opt(_BUCKET, to="by"), "max_doc_count": Opt(_INT, 1)},
                      _serving("rare_terms")),
    "multi_terms": Agg({"terms": Opt(_multi_terms, to="by"), "size": Opt(_INT, 10)},
                       _serving("multi_terms")),
    "terms": Agg({"field": Opt(_BUCKET, to="by")}, _terms, sub="terms"),
    "matrix_stats": Agg({"fields": Opt(_check("a list of two fields", lambda v: (
        isinstance(v, list) and len(v) == 2), tuple), ("doclen", "chars"))},
        _serving("matrix_stats")),
    # TOP-LEVEL leaf metrics — the most common ES aggregation shape (no
    # bucket): one narrow join + one global agg (serving.metric_agg)
    **{kind: Agg({"field": Opt(_STR, "doclen"),
                  **({"percents": _PERCENTS} if kind == "percentiles" else {})},
                 _serving("metric_agg", kind=kind), "optional")
       for kind in LEAF_METRIC_KINDS},
}

# the sub-aggs a terms bucket takes alone, each run as (index, query,
# by=<the bucket field>, **options)
_TERMS_SUBS = {
    "stats": Agg({"field": _DOCLEN}, _serving("facet_stats")),
    "percentiles": Agg({"field": _DOCLEN, "percents": _PERCENTS},
                       _serving("facet_percentiles")),
    "boxplot": Agg({"field": _DOCLEN}, _serving("facet_boxplot")),
    "median_absolute_deviation": Agg({"field": _DOCLEN}, _serving("facet_mad")),
    "cardinality": Agg({"field": Opt(_BUCKET, to="of")}, _serving("facet_cardinality")),
    "top_hits": Agg({"size": Opt(_INT, 3, "per_group")}, _serving("top_hits")),
}


@_dsl_errors
def run_aggs(index, body: dict, k: int = 10):
    """Run an ES `_search` body of an optional `query` and exactly ONE
    top-level aggregation, under `aggs` or `aggregations`, and return its
    serving op's DataFrame. The kinds, their options and their query and
    sub-agg rules are the rows of _AGGS (and _TERMS_SUBS for a terms
    bucket's sub-agg); anything else raises DslError. A bool's
    doc-metadata clauses restrict every kind through the kernel
    (_restricted) — `global` too reads the restricted copy, but never its
    match set."""
    _require(isinstance(body, dict), "an aggs body must be an object")
    _unknown_keys(body, ("query", "aggs", "aggregations"))
    _require(("aggs" in body) != ("aggregations" in body),
             "give exactly one of aggs / aggregations")
    aggs = body.get("aggs", body.get("aggregations"))
    _require(isinstance(aggs, dict) and len(aggs) == 1, "exactly one top-level agg")
    (_, spec), = aggs.items()
    kind, conf, sub = _one_agg(spec, _AGGS, "agg")
    row = _AGGS[kind]
    opts = _read(conf, row.spec, kind)
    if row.sub is None:
        _no_sub(kind, sub)
    elif row.sub == "terms":
        opts["sub"] = sub
    else:
        skind, sspec = row.sub
        _require(isinstance(sub, dict) and len(sub) == 1,
                 f"{kind} needs exactly one {skind} sub-agg")
        (_, s), = sub.items()
        _, sconf, nested = _one_agg(s, (skind,), "sub-agg")
        _no_sub(skind, nested)
        opts.update(_read(sconf, sspec, skind))
    args = [index, None]
    if "query" in body:
        _require(row.query != "forbidden",
                 f"{kind} takes no query: its filters run over the whole corpus")
        # the bool's doc-metadata clauses ride an index copy (_restricted)
        # into the kernel behind index.match / index.scored_match, the
        # match surfaces every serving agg rides
        query, pos, neg = _pop_bool_ranges(body["query"])
        _require(query is not None,
                 "aggs over a pure metadata filter need a match query "
                 "alongside (a bool of only metadata filters has no "
                 "scoring/match clause)")
        args = [_restricted(index, pos, neg), compile_dsl(query)]
    else:
        _require(row.query != "required", f"{kind} agg requires a query")
    if row.query in ("forbidden", "escapes"):
        args = args[:1]
    return row.run(*args, **opts)


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
