"""Prefix/fuzzy dictionary expansion (plans/expand.py): parser nodes,
engine-vs-DuckDB-oracle parity on both executors, internal consistency of
mixed queries, cap and no-match behavior."""

import pytest

from bitfunnel_spark.plans import expand
from bitfunnel_spark.plans.ast import Fuzzy, Or, Prefix, Term, Wildcard, fmt
from bitfunnel_spark.plans.oracle import oracle_expansion_search_sql
from bitfunnel_spark.plans.parser import QueryParseError, parse_query
from tests.conftest import reference_search, search_in


def test_parse_expansion_nodes():
    assert parse_query("dat*") == Prefix("dat")
    assert parse_query("vektor~") == Fuzzy("vektor", dist=1)
    assert parse_query("qroup~2") == Fuzzy("qroup", dist=2)
    assert parse_query("path:txt*") == Prefix("txt", "path")
    assert fmt(parse_query("dat* -vektor~")) == "And(dat*, Not(vektor~1))"
    # mid-token '*' / any '?' is a general glob (Lucene WildcardQuery shape)
    assert parse_query("a*b") == Wildcard("a*b")
    assert parse_query("s?a*") == Wildcard("s?a*")
    assert parse_query("path:d?ta") == Wildcard("d?ta", "path")
    assert fmt(parse_query("s?a* & data")) == "And(s?a*, data)"
    with pytest.raises(QueryParseError):
        parse_query("*")  # bare wildcard: no literal chars
    with pytest.raises(QueryParseError):
        parse_query("s?a*^2")  # boost on an expansion term
    assert parse_query("data") == Term("data")


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_prefix_vs_oracle(index, duck, mode):
    got = [(r["doc_id"], r["score"]) for r in search_in(mode, index, "s*", k=10).collect()]
    exp = duck.execute(oracle_expansion_search_sql("term LIKE 's%'", k=10)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_wildcard_vs_oracle(index, duck, mode):
    got = [
        (r["doc_id"], r["score"]) for r in search_in(mode, index, "s?a*", k=10).collect()
    ]
    exp = duck.execute(oracle_expansion_search_sql("term LIKE 's_a%'", k=10)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got


def test_wildcard_expansion_terms(index):
    expanded = expand.expand_query(index, parse_query("s?a*"))
    assert isinstance(expanded, Or)
    assert {t.text for t in expanded.children} == {"scan", "spark", "small"}
    # leading glob (no literal prefix to prune on) still resolves correctly
    tail = expand.expand_query(index, parse_query("*tream"))
    assert tail == Term("stream")
    # '?' consumes exactly one char: 'dat?' must not match 'data'+'date'-less vocab
    one = expand.expand_query(index, parse_query("?ata"))
    assert one == Term("data")
    # no-match glob rewrites to an untokenizable marker (empty posting list)
    assert index.search("zz*qq?", k=5).count() == 0


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_regex_vs_oracle(index, duck, mode):
    got = [
        (r["doc_id"], r["score"])
        for r in search_in(mode, index, "/s.a[nr]k?/", k=10).collect()
    ]
    exp = duck.execute(
        oracle_expansion_search_sql("regexp_full_match(term, 's.a[nr]k?')", k=10)
    ).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got


def test_regex_expansion_terms(index):
    from bitfunnel_spark.plans.ast import Regex

    assert parse_query("/s.a[nr]k?/") == Regex("s.a[nr]k?")
    assert parse_query("path:/t.t/") == Regex("t.t", "path")
    expanded = expand.expand_query(index, parse_query("/s.a[nr]k?/"))
    assert isinstance(expanded, Or)
    assert {t.text for t in expanded.children} == {"scan", "spark"}
    # whole-term anchoring: /can/ must NOT match 'scan'
    assert expand.expand_query(index, parse_query("/can/")) == Term("/can/")
    assert index.search("/can/", k=5).count() == 0
    # grammar specials inside a regex are backslash-escaped
    alt = expand.expand_query(index, parse_query(r"/s\(can\|mall\)/"))
    assert {t.text for t in alt.children} == {"scan", "small"}
    with pytest.raises(QueryParseError):
        parse_query("/s.an/^2")  # boost on an expansion term
    with pytest.raises(QueryParseError):
        parse_query("/a[b/")  # broken pattern fails at parse time


def test_regex_safe_prefix():
    # plain literal run before a non-quantifier metachar: keep it
    assert expand._regex_safe_prefix("s.a[nr]k?") == "s"
    assert expand._regex_safe_prefix("data") == "data"
    # top-level alternation: branches share no lead — prune disabled
    assert expand._regex_safe_prefix("scan|data") == ""
    assert expand._regex_safe_prefix("a|b") == ""
    # alternation INSIDE a group is fine: every match still starts with 's'
    assert expand._regex_safe_prefix("s(can|mall)") == "s"
    # escaped '|' is a literal, not an alternation
    assert expand._regex_safe_prefix(r"a\|b") == "a"
    # optional/repeat quantifier makes the preceding char optional: drop it
    assert expand._regex_safe_prefix("sc?an") == "s"
    assert expand._regex_safe_prefix("datas*") == "data"
    assert expand._regex_safe_prefix("datax{0,1}") == "data"
    # '+' requires >=1 occurrence — the char stays
    assert expand._regex_safe_prefix("data+") == "data"


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_regex_alternation_vs_oracle(index, duck, mode):
    """/scan|data/ — the unsound StartsWith('scan') prune used to silently
    drop 'data' (ADVICE r2); both alternatives must match."""
    expanded = expand.expand_query(index, parse_query(r"/scan\|data/"))
    assert {t.text for t in expanded.children} == {"scan", "data"}
    got = [
        (r["doc_id"], r["score"])
        for r in search_in(mode, index, r"/scan\|data/", k=10).collect()
    ]
    exp = duck.execute(
        oracle_expansion_search_sql("regexp_full_match(term, 'scan|data')", k=10)
    ).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_regex_optional_quantifier_vs_oracle(index, duck, mode):
    """/datax{0,1}/ and /datas*/ fully match 'data', which the old lead
    ('datax'/'datas') pruned away before the rlike."""
    assert expand.expand_query(index, parse_query("/datax{0,1}/")) == Term("data")
    assert expand.expand_query(index, parse_query("/datas*/")) == Term("data")
    got = [
        (r["doc_id"], r["score"])
        for r in search_in(mode, index, "/datax{0,1}/", k=10).collect()
    ]
    exp = duck.execute(
        oracle_expansion_search_sql("regexp_full_match(term, 'datax{0,1}')", k=10)
    ).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got


def test_parse_phrase_prefix():
    from bitfunnel_spark.plans.ast import PhrasePrefix

    assert parse_query('"fast key ord*"') == PhrasePrefix(("fast", "key"), "ord")
    assert parse_query('"bro*"') == Prefix("bro")  # 1-token phrase-prefix
    assert parse_query('path:"doc tx*"') == PhrasePrefix(("doc",), "tx", "path")
    assert fmt(parse_query('"fast ord*" data')) == 'And("fast ord*", data)'
    with pytest.raises(QueryParseError):
        parse_query('"a* b"')  # '*' not on the last token
    with pytest.raises(QueryParseError):
        parse_query('"a b*"~2')  # slop + phrase-prefix
    with pytest.raises(QueryParseError):
        parse_query('"a b*c"')  # mid-token glob inside a phrase
    with pytest.raises(QueryParseError):
        parse_query('"a b?"')  # '?' glob inside a phrase


def test_phrase_prefix_expansion_shape(index):
    from bitfunnel_spark.plans.ast import Phrase, PhrasePrefix

    node = expand.expand_query(index, parse_query('"fast key ord*"'))
    # every expansion is a full phrase sharing the fixed lead
    phrases = node.children if isinstance(node, Or) else (node,)
    assert all(isinstance(p, Phrase) and p.tokens[:2] == ("fast", "key") for p in phrases)
    assert any(p.tokens[-1] == "order" for p in phrases)
    # no dictionary match -> never-matching phrase marker
    none = expand.expand_query(index, parse_query('"fast zzqq*"'))
    assert isinstance(none, Phrase) and none.tokens[-1] == "zzqq*"
    assert index.search('"fast zzqq*"', k=5).count() == 0
    assert not isinstance(none, PhrasePrefix)


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
@pytest.mark.parametrize("toks,pre", [(("fast", "key"), "ord"), (("fast",), "k")])
def test_phrase_prefix_vs_oracle(index, duck, mode, toks, pre):
    from bitfunnel_spark.plans.oracle import oracle_phrase_prefix_sql

    q = '"' + " ".join(toks) + " " + pre + '*"'
    got = [(r["doc_id"], r["score"]) for r in search_in(mode, index, q, k=10).collect()]
    exp = duck.execute(oracle_phrase_prefix_sql(toks, pre, k=10)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got
    assert got  # the parity must not be vacuous


def test_wildcard_fuzzy_mix_rejected():
    """'da?a~' used to parse as a Wildcard with a literal '~' that can never
    match a dictionary term (silent empty result) — now a parse error, like
    boost-on-expansion (ADVICE r2)."""
    with pytest.raises(QueryParseError):
        parse_query("da?a~")
    with pytest.raises(QueryParseError):
        parse_query("da?a~2")
    with pytest.raises(QueryParseError):
        parse_query("d*a~")


def test_glob_to_like_escaping():
    assert expand._glob_to_like("a*b?c") == "a%b_c"
    assert expand._glob_to_like("a_b") == "a\\_b"  # literal '_' in a token
    assert expand._glob_to_like("%*") == "\\%%"


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_fuzzy_vs_oracle(index, duck, mode):
    got = [
        (r["doc_id"], r["score"])
        for r in search_in(mode, index, "vektor~", k=10).collect()
    ]
    exp = duck.execute(
        oracle_expansion_search_sql("levenshtein(term, 'vektor') <= 1", k=10)
    ).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got
    # sanity: 'vektor~' resolved to the real term 'vector'
    direct = [
        (r["doc_id"], r["score"]) for r in search_in(mode, index, "vector", k=10).collect()
    ]
    assert got == direct


def test_mixed_expansion_consistency(index):
    expanded = expand.expand_query(index, parse_query("s*"))
    assert isinstance(expanded, Or) and len(expanded.children) >= 3
    manual = "(" + " | ".join(t.text for t in expanded.children) + ") & data"
    a = [(r["doc_id"], r["score"]) for r in index.search("s* & data", k=10).collect()]
    b = [(r["doc_id"], r["score"]) for r in index.search(manual, k=10).collect()]
    assert a == b
    assert sorted(r["doc_id"] for r in index.match("s* & data").collect()) == sorted(
        r["doc_id"] for r in index.match(manual).collect()
    )


def test_expansion_cap(index):
    capped = expand.expand_query(index, parse_query("s*"), max_expansions=2)
    full = expand.expand_query(index, parse_query("s*"))
    assert isinstance(capped, Or) and len(capped.children) == 2
    # the cap keeps the highest-df terms
    caps = {t.text for t in capped.children}
    assert caps <= {t.text for t in full.children}


def test_no_match_expansion(index):
    assert index.search("zzzz*", k=5).count() == 0
    assert index.search("zzzzzzzzzz~", k=5).count() == 0
    # negated expansion: everything matches (driven by the positive term)
    n = index.match("data -zzzz*").count()
    assert n == index.match("data").count()


def test_batch_and_profile_expansion(index):
    res = index.search_many(["s*", "data"], k=5).collect()
    qids = {r["query_id"] for r in res}
    assert qids == {0, 1}
    single = [(r["doc_id"], r["score"]) for r in index.search("s*", k=5).collect()]
    batch0 = sorted(
        ((r["doc_id"], r["score"]) for r in res if r["query_id"] == 0),
        key=lambda x: (-x[1], x[0]),
    )
    assert batch0 == single


def test_batch_phrase_prefix_parity(index):
    # phrase-prefix expands before planning, so the batched executor rides
    # the same OR-of-phrases plan as the single-query kernel
    qs = ['"filter s*"', "data", '"fast key ord*" -slow']
    batch = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 4))
        for r in index.search_many(qs, k=5).collect()
    )
    single = sorted(
        (i, r["doc_id"], round(r["score"], 4))
        for i, q in enumerate(qs)
        for r in index.search(q, k=5, mode="kernel").collect()
    )
    assert batch == single and batch


def test_suggest(index, duck):
    from bitfunnel_spark.plans.expand import suggest

    got = [(r["term"], r["df"]) for r in suggest(index, "s", k=5).collect()]
    exp = duck.execute("""
        WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
            '[a-z_][a-z0-9_]*|[0-9]+')) AS term FROM documents),
        d AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
        SELECT term, df FROM d WHERE term LIKE 's%'
        ORDER BY df DESC, term ASC LIMIT 5""").fetchall()
    assert got == exp
    assert all(t.startswith("s") for t, _ in got)


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_synonyms_vs_manual_or(index, mode):
    index.set_synonyms(None)
    manual = search_in(mode, index, "(join | merge) & data", k=10).collect()
    index.set_synonyms({"join": ["merge"]})
    try:
        got = search_in(mode, index, "join & data", k=10).collect()
    finally:
        index.set_synonyms(None)
    assert got == manual


def test_synonyms_semantics(index):
    index.set_synonyms({"join": ["merge"]})
    try:
        # negation excludes the whole synonym group
        neg = sorted(r["doc_id"] for r in index.match("data -join").collect())
        # min-should-match counts the synonym group as ONE clause
        mm = sorted(r["doc_id"] for r in index.match("(join | vector | dup)@2").collect())
        # phrases and boosts keep exact tokens (no rewrite inside)
        ph = sorted(r["doc_id"] for r in index.match('"join data"').collect())
    finally:
        index.set_synonyms(None)
    assert neg == sorted(r["doc_id"] for r in index.match("data -(join | merge)").collect())
    assert mm == sorted(
        r["doc_id"] for r in index.match("((join | merge) | vector | dup)@2").collect()
    )
    assert ph == sorted(r["doc_id"] for r in index.match('"join data"').collect())
    # map normalization: self-mapping and case fold
    index.set_synonyms({"JOIN": ["Join", "MERGE"]})
    try:
        assert index.synonyms == {"join": ("merge",)}
    finally:
        index.set_synonyms(None)
    assert index.synonyms is None


def test_did_you_mean(index, duck):
    from bitfunnel_spark.plans.expand import did_you_mean

    got = [tuple(r) for r in did_you_mean(index, "qroup", k=5).collect()]
    exp = duck.execute("""
        WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
            '[a-z_][a-z0-9_]*|[0-9]+')) AS term FROM documents),
        d AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
        SELECT term, df, levenshtein(term, 'qroup') AS dist FROM d
        WHERE levenshtein(term, 'qroup') <= 2 AND term != 'qroup'
        ORDER BY dist ASC, df DESC, term ASC LIMIT 5""").fetchall()
    assert got == exp
    assert got[0][0] == "group" and got[0][2] == 1
    # the input term itself is excluded even when in the dictionary
    assert all(t != "data" for t, _, _ in did_you_mean(index, "data", k=5).collect())


@pytest.mark.parametrize("mode", ["dataframe", "kernel"])
def test_common_terms_query(index, duck, mode):
    from bitfunnel_spark.plans.ast import fmt
    from bitfunnel_spark.plans.expand import common_terms_query

    node = common_terms_query(index, "dup data fast", max_df_ratio=0.3)
    assert fmt(node) == "And(dup, Or(dup, data, fast))"
    got = [
        (r["doc_id"], r["score"]) for r in search_in(mode, index, node, k=10).collect()
    ]
    exp = [
        (r["doc_id"], r["score"])
        for r in search_in(mode, index, "dup & (dup | data | fast)", k=10).collect()
    ]
    assert got == exp
    # match set is the rare terms alone (common terms never gate matching)
    assert sorted(r["doc_id"] for r in index.match(node).collect()) == sorted(
        r["doc_id"] for r in index.match("dup").collect()
    )
    # but common terms DO contribute score: differs from plain rare-only
    rare_only = [
        (r["doc_id"], r["score"]) for r in search_in(mode, index, "dup", k=10).collect()
    ]
    assert got != rare_only


def test_common_terms_fallbacks(index):
    from bitfunnel_spark.plans.ast import And, Term, fmt
    from bitfunnel_spark.plans.expand import common_terms_query

    # all-common degrades to a plain AND
    assert common_terms_query(index, "data fast", 0.3) == And((Term("data"), Term("fast")))
    # all-rare stays a plain AND
    assert common_terms_query(index, "dup", 0.3) == Term("dup")
    # duplicates collapse, order preserved
    assert fmt(common_terms_query(index, "dup dup data", 0.3)) == "And(dup, Or(dup, data))"
    with pytest.raises(ValueError):
        common_terms_query(index, "   ")


def test_synonym_blend_kernel_dataframe_parity(index):
    """Blended SynonymQuery scoring must be rank- AND score-identical
    between executors, and the match set must equal the OR expansion's."""
    index.set_synonyms({"join": ["merge"]}, mode="blend")
    try:
        kr = index.search("join & data", k=10, mode="kernel").collect()
        df = reference_search(index, "join & data", k=10).collect()
        blend_match = sorted(r["doc_id"] for r in index.match("join & data").collect())
    finally:
        index.set_synonyms(None)
    assert [(r["doc_id"], r["score"]) for r in kr] == [
        (r["doc_id"], r["score"]) for r in df
    ]
    or_match = sorted(
        r["doc_id"] for r in index.match("(join | merge) & data").collect()
    )
    assert blend_match == or_match


def test_synonym_blend_scores_differ_from_expand(index):
    """Blend is a different scoring function than expansion: a doc with both
    members saturates ONCE on the summed tf, so its blended score is lower
    than the expansion's independent sum (when idfs are comparable)."""
    index.set_synonyms({"join": ["merge"]}, mode="blend")
    try:
        blend = {r["doc_id"]: r["score"] for r in index.search("join", k=500, mode="kernel").collect()}
    finally:
        index.set_synonyms(None)
    index.set_synonyms({"join": ["merge"]})  # expand (default)
    try:
        expand = {r["doc_id"]: r["score"] for r in index.search("join", k=500, mode="kernel").collect()}
    finally:
        index.set_synonyms(None)
    assert set(blend) == set(expand)  # same match set
    assert blend != expand  # different scoring function
    # blended never exceeds the expansion sum (single saturation of the
    # summed tf <= sum of saturations, and blended idf = min member idf)
    assert all(blend[d] <= expand[d] + 1e-9 for d in blend)


def test_synonym_blend_hand_formula(index):
    """One document's blended score checked against the closed-form BM25
    SynonymQuery formula computed from raw corpus counts."""
    import math

    index.set_synonyms({"join": ["merge"]}, mode="blend")
    try:
        got = {r["doc_id"]: r["score"] for r in index.search("join", k=500, mode="kernel").collect()}
    finally:
        index.set_synonyms(None)
    from pyspark.sql import functions as F
    from bitfunnel_spark.functions.tokenizer import tokenize

    toks = index.corpus.select(
        "doc_id",
        F.size(F.filter(tokenize("content"), lambda t: t == F.lit("join"))).alias("tf_j"),
        F.size(F.filter(tokenize("content"), lambda t: t == F.lit("merge"))).alias("tf_m"),
        F.size(tokenize("content")).alias("dl"),
    ).collect()
    n = index.n_docs
    df_j = sum(1 for r in toks if r["tf_j"] > 0)
    df_m = sum(1 for r in toks if r["tf_m"] > 0)
    idf_blend = min(
        math.log((n - df_j + 0.5) / (df_j + 0.5) + 1.0),
        math.log((n - df_m + 0.5) / (df_m + 0.5) + 1.0),
    )
    k1, b = index.config.bm25.k1, index.config.bm25.b
    checked = 0
    for r in toks:
        tfsum = r["tf_j"] + r["tf_m"]
        if tfsum == 0:
            continue
        d_norm = k1 * (1.0 - b + b * r["dl"] / index.avgdl)
        want = idf_blend * (tfsum * (k1 + 1.0) / (tfsum + d_norm))
        assert got[r["doc_id"]] == pytest.approx(want, abs=2e-4)
        checked += 1
    assert checked >= 3
