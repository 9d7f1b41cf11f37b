"""Query planner — AST normalization and term planning.

The reference's planning pipeline is TermPlanConverter → MatchTreeRewriter →
RankDownCompiler (/root/reference/src/Plan/src/QueryPlanner.cpp:51-165). Its
rewriter pulls common high-rank rows left and distributes NOTs
(MatchTreeRewriter.h:36-58); our analogue orders AND terms rarest-first
(cheapest intersection drives) and normalizes NOTs, which is what an exact
posting-list engine needs instead of rank ordering.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from bitfunnel_spark.plans.ast import (
    And,
    Boost,
    FieldGroup,
    Filter,
    Node,
    Not,
    Or,
    Phrase,
    SynGroup,
    Term,
)
from bitfunnel_spark.plans.parser import parse_query


class QueryPlanError(ValueError):
    pass


def strip_boosts(node: Node, boosts: dict[tuple[str, str], float]) -> Node:
    """Replace Boost(Term, f) wrappers with the bare Term, accumulating
    (stream, token)-keyed factors (multiplicatively for repeats) into
    ``boosts``. Match semantics are untouched — only scoring consumes the
    dict. Boosting a NON-body term (``path:txt^2``) additionally promotes
    that field key into the scoring set: field-weighted relevance (the
    Lucene multi-field query-boost shape; a linear per-field BM25
    combination — saturation-mixing BM25F is expand.combined_fields /
    ast.FieldGroup)."""
    if isinstance(node, Boost):
        inner = strip_boosts(node.child, boosts)
        if isinstance(inner, Term):
            key = (inner.stream, inner.text)
            boosts[key] = boosts.get(key, 1.0) * float(node.factor)
        return inner
    if isinstance(node, Filter):
        # boosts inside filter context are ignored (the clause never
        # scores) — strip them into a discarded dict
        return Filter(strip_boosts(node.child, {}))
    if isinstance(node, Not):
        return Not(strip_boosts(node.child, boosts))
    if isinstance(node, Or):
        return Or(
            tuple(strip_boosts(c, boosts) for c in node.children), node.min_match
        )
    if isinstance(node, And):
        return And(tuple(strip_boosts(c, boosts) for c in node.children))
    return node


def strip_filters(node: Node) -> tuple[Node, set[tuple[str, str]]]:
    """Replace Filter(clause) wrappers with the bare clause, returning the
    stripped tree plus the scoring-exclusion set: positive (stream, token)
    keys that occur ONLY inside filter context. A key also appearing
    positively outside any Filter keeps scoring (Elasticsearch must +
    filter semantics). Match semantics are untouched — Filter(x) matches
    exactly like x; only scoring consumes the exclusion."""
    in_filter: set[tuple[str, str]] = set()
    outside: set[tuple[str, str]] = set()

    def keys_of(n: Node) -> set[tuple[str, str]]:
        if isinstance(n, Term):
            return {(n.stream, n.text)}
        if isinstance(n, Phrase):
            return {(n.stream, t) for t in n.tokens}
        if isinstance(n, (SynGroup, FieldGroup)):
            return set(n.keys) if isinstance(n, SynGroup) else {k for k, _w in n.weighted}
        return set()

    def walk(n: Node, neg: bool, filt: bool) -> Node:
        if isinstance(n, Filter):
            return walk(n.child, neg, True)
        if isinstance(n, Not):
            return Not(walk(n.child, not neg, filt))
        if isinstance(n, Or):
            return Or(tuple(walk(c, neg, filt) for c in n.children), n.min_match)
        if isinstance(n, And):
            return And(tuple(walk(c, neg, filt) for c in n.children))
        if not neg:
            (in_filter if filt else outside).update(keys_of(n))
        return n

    stripped = walk(node, False, False)
    return stripped, in_filter - outside


def effective_idf(
    plan, idf: dict[tuple[str, str], float]
) -> dict[tuple[str, str], float]:
    """Query-time boosted idf, keyed (stream, term): contribution =
    (idf·boost)·partial — the single multiply-in point every scoring path
    shares."""
    if not getattr(plan, "boosts", None):
        return idf
    return {k: v * plan.boosts.get(k, 1.0) for k, v in idf.items()}


def normalize(node: Node) -> Node:
    """Flatten nested And/Or, collapse double negation, dedupe children."""
    if isinstance(node, Not):
        child = normalize(node.child)
        if isinstance(child, Not):
            return child.child
        return Not(child)
    if isinstance(node, (And, Or)):
        cls = type(node)
        parent_mm = getattr(node, "min_match", 1) if isinstance(node, Or) else 1
        out: list[Node] = []
        seen = set()
        for c in node.children:
            c = normalize(c)
            # never flatten across a minimum-should-match boundary: an
            # Or@N child keeps its count semantics, and an Or@N parent
            # keeps its children countable
            flat = (
                isinstance(c, cls)
                and parent_mm <= 1
                and getattr(c, "min_match", 1) <= 1
            )
            subs = c.children if flat else (c,)
            for s in subs:
                if s not in seen:
                    seen.add(s)
                    out.append(s)
        if len(out) == 1 and parent_mm <= 1:
            return out[0]
        if isinstance(node, Or):
            return Or(tuple(out), parent_mm)
        return And(tuple(out))
    return node


def collect_terms(node: Node) -> set[tuple[str, str]]:
    """All (stream, token) pairs referenced — phrase constituents included."""
    if isinstance(node, Term):
        return {(node.stream, node.text)}
    if isinstance(node, Phrase):
        return {(node.stream, t) for t in node.tokens}
    if isinstance(node, Not):
        return collect_terms(node.child)
    if isinstance(node, (And, Or, SynGroup, FieldGroup)):
        out: set[tuple[str, str]] = set()
        for c in node.children:
            out |= collect_terms(c)
        return out
    raise TypeError(type(node))


def collect_syn_groups(node: Node, negated: bool = False) -> list[tuple[tuple[str, str], ...]]:
    """Positive blended-synonym groups (SynGroup), as sorted member-key
    tuples. Negated groups filter only and never score (like NOT terms)."""
    if isinstance(node, SynGroup):
        return [] if negated else [tuple(sorted(node.keys))]
    if isinstance(node, Not):
        return collect_syn_groups(node.child, not negated)
    if isinstance(node, (And, Or)):
        out: list[tuple[tuple[str, str], ...]] = []
        for c in node.children:
            out += collect_syn_groups(c, negated)
        return out
    return []


def collect_field_groups(
    node: Node, negated: bool = False
) -> list[tuple[tuple[tuple[str, str], float], ...]]:
    """Positive combined-fields groups (FieldGroup), each as its sorted
    ((stream, term), weight) pair tuple — the fixed accumulation order the
    scorers share. Negated groups filter only and never score (like NOT
    terms and negated SynGroups)."""
    if isinstance(node, FieldGroup):
        return [] if negated else [node.weighted]
    if isinstance(node, Not):
        return collect_field_groups(node.child, not negated)
    if isinstance(node, (And, Or)):
        out: list[tuple[tuple[tuple[str, str], float], ...]] = []
        for c in node.children:
            out += collect_field_groups(c, negated)
        return out
    return []


def collect_phrases(node: Node, negated: bool = False) -> list[tuple[Phrase, bool]]:
    if isinstance(node, Phrase):
        return [(node, negated)]
    if isinstance(node, Not):
        return collect_phrases(node.child, not negated)
    if isinstance(node, (And, Or)):
        out: list[tuple[Phrase, bool]] = []
        for c in node.children:
            out += collect_phrases(c, negated)
        return out
    return []


def positive_scoring_terms(node: Node) -> set[str]:
    """BODY-stream tokens that contribute to BM25: every body term/phrase
    constituent not under a NOT. NOT terms filter, never score (SURVEY §2.5);
    phrases score through their constituent unigrams (the reference treats a
    phrase as the AND of its grams — TermMatchTreeConverter.cpp:55-229)."""
    out: set[str] = set()

    def walk(n: Node, neg: bool) -> None:
        if isinstance(n, Term):
            if not neg and n.stream == "body":
                out.add(n.text)
        elif isinstance(n, Phrase):
            if not neg and n.stream == "body":
                out.update(n.tokens)
        elif isinstance(n, Not):
            walk(n.child, not neg)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c, neg)

    walk(node, False)
    return out


def positive_keys(node: Node) -> set[tuple[str, str]]:
    """Every positive (stream, token) occurrence — the candidate scoring
    surface. Body keys always score; non-body keys score only when the
    query boosts them (field-weighted scoring, see plan_query)."""
    out: set[tuple[str, str]] = set()

    def walk(n: Node, neg: bool) -> None:
        if isinstance(n, Term):
            if not neg:
                out.add((n.stream, n.text))
        elif isinstance(n, Phrase):
            if not neg:
                out.update((n.stream, t) for t in n.tokens)
        elif isinstance(n, Not):
            walk(n.child, not neg)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c, neg)

    walk(node, False)
    return out


def requires_positive(node: Node) -> bool:
    """True iff every matching document must contain ≥1 positive term —
    the condition under which hit-set evaluation (and any posting-driven
    engine, including the reference, which ANDs the match against real rows)
    is complete."""
    if isinstance(node, (Term, Phrase, SynGroup, FieldGroup)):
        return True
    if isinstance(node, Not):
        return False
    if isinstance(node, And):
        return any(requires_positive(c) for c in node.children)
    if isinstance(node, Or):
        return all(requires_positive(c) for c in node.children)
    raise TypeError(type(node))


@dataclass
class QueryPlan:
    ast: Node
    terms: set[tuple[str, str]]  # all (stream, token) incl. phrase constituents
    scoring_terms: set[str]  # positive body tokens that contribute BM25
    phrases: list[tuple[Phrase, bool]] = field(default_factory=list)
    boosts: dict[tuple[str, str], float] = field(default_factory=dict)  # (stream, term) -> factor
    scoring_keys: set[tuple[str, str]] = field(default_factory=set)  # keys that contribute BM25
    # positive blended-synonym groups (SynGroup): each scores as ONE
    # pseudo-term (summed tf, blended idf); members are excluded from
    # scoring_keys (they still match and fetch postings via `terms`)
    syn_groups: tuple[tuple[tuple[str, str], ...], ...] = ()
    # positive combined-fields groups (FieldGroup — BM25F): each scores as
    # ONE pseudo-term over the weighted per-field tf sum; members excluded
    # from scoring_keys the same way
    field_groups: tuple[tuple[tuple[tuple[str, str], float], ...], ...] = ()


def plan_query(node: Node) -> QueryPlan:
    boosts: dict[str, float] = {}
    node = strip_boosts(node, boosts)
    node, filtered = strip_filters(node)
    node = normalize(node)
    if not requires_positive(node):
        raise QueryPlanError(
            "query match set is not driven by any positive term "
            "(pure-NOT / NOT-only disjunct); not evaluable by a posting-driven engine"
        )
    pos = positive_keys(node)
    groups = tuple(dict.fromkeys(collect_syn_groups(node)))  # ordered dedupe
    fgroups = tuple(dict.fromkeys(collect_field_groups(node)))
    # a group occurring only in filter context matches but never scores
    groups = tuple(g for g in groups if not set(g) <= filtered)
    fgroups = tuple(g for g in fgroups if not {k for k, _w in g} <= filtered)
    members = {k for g in groups for k in g}
    members |= {k for g in fgroups for k, _w in g}
    return QueryPlan(
        ast=node,
        terms=collect_terms(node),
        scoring_terms=positive_scoring_terms(node)
        - {t for s, t in filtered if s == "body"},
        phrases=collect_phrases(node),
        boosts=boosts,
        # body keys always score; non-body keys score only when boosted
        # (field-weighted scoring) — matching stays stream-agnostic.
        # Blended-group members score through their group, not individually.
        # Filter-context keys (ast.Filter) are excluded last: they match
        # like any positive clause but contribute nothing to BM25.
        scoring_keys={k for k in pos if k[0] == "body" or k in boosts}
        - members
        - filtered,
        syn_groups=groups,
        field_groups=fgroups,
    )


def as_plan(query) -> QueryPlan:
    """A QueryPlan from a query string, an AST node or a plan."""
    if isinstance(query, QueryPlan):
        return query
    if isinstance(query, str):
        return plan_query(parse_query(query))
    return plan_query(query)
