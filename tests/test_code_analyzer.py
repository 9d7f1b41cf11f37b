"""Code analyzer (identifier subtoken splitting — BuildConfig.analyzer="code").

Lucene/ES WordDelimiterGraphFilter semantics (generate_word_parts, no
preserve_original): camelCase / acronym-run / digit-transition / snake_case
boundaries become token breaks before the standard extraction. Three layers:

1. unit: Spark `tokenize(x, "code")` on hand-picked identifier shapes
2. parity: the Spark (Java regex) chain == the DuckDB (RE2) chain == a
   plain-Python `re` mirror over generated identifier soup
3. index-level: an index built with analyzer="code" matches subtoken
   queries (`server` finds `HTTPServer`) in BOTH executor modes, with
   rank-identical BM25
"""

import re

import pytest
from pyspark.sql import functions as F

from bitfunnel_spark import BuildConfig, FullTextIndex
from bitfunnel_spark.functions.tokenizer import CODE_SPLIT_RULES, tokenize
from bitfunnel_spark.plans.oracle import code_split_sql
from tests.conftest import reference_search

CASES = {
    "getUserName": ["get", "user", "name"],
    "XMLHttpRequest": ["xml", "http", "request"],
    "HTTPServer2": ["http", "server", "2"],
    "parse_html": ["parse", "html"],
    "v2Counter": ["v", "2", "counter"],
    "snake_case_123": ["snake", "case", "123"],
    "plainword": ["plainword"],
    "ABCDef": ["abc", "def"],
    "a1b2": ["a", "1", "b", "2"],
    "_leading": ["leading"],
    "X": ["x"],
    "async def getValue(self): return self._val  # comment": [
        "async", "def", "get", "value", "self", "return", "self", "val", "comment",
    ],
}


def _py_code_tokens(s: str) -> list[str]:
    for pat, rep in CODE_SPLIT_RULES:
        s = re.sub(pat, rep.replace("$1", r"\1").replace("$2", r"\2"), s)
    return re.findall(r"[a-z_][a-z0-9_]*|[0-9]+", s.lower())


def test_code_tokenize_unit(spark):
    rows = spark.createDataFrame([(s,) for s in CASES], "s string").select(
        "s", tokenize("s", "code").alias("tk")
    )
    got = {r["s"]: r["tk"] for r in rows.collect()}
    for s, want in CASES.items():
        assert got[s] == want, (s, got[s], want)


def test_standard_analyzer_unchanged(spark):
    row = (
        spark.createDataFrame([("getUserName parse_html",)], "s string")
        .select(tokenize("s").alias("tk"))
        .head()
    )
    # standard: lowercased identifiers kept whole (underscore is a token char)
    assert row["tk"] == ["getusername", "parse_html"]


def test_unknown_analyzer_raises(spark):
    with pytest.raises(ValueError):
        tokenize("s", "porter")


def test_spark_duckdb_python_chain_parity(spark, duck):
    # identifier soup covering rule interactions (acronym→camel→digits→snake)
    soup = [
        f"pre{a}{b}Mid{i}_tail{i % 7}X{a}{i}b"
        for i, (a, b) in enumerate(
            (x, y) for x in ["HTTP", "Xml", "ab", "A9"] for y in ["Get", "v2", "_", "ZZz"]
        )
    ] + list(CASES)
    sdf = spark.createDataFrame([(s,) for s in soup], "s string").select(
        "s", tokenize("s", "code").alias("tk")
    )
    got_spark = {r["s"]: r["tk"] for r in sdf.collect()}
    sql = (
        f"SELECT s, regexp_extract_all(lower({code_split_sql('s')}),"
        " '[a-z_][a-z0-9_]*|[0-9]+') FROM (SELECT unnest(?) AS s)"
    )
    got_duck = dict(duck.execute(sql, [soup]).fetchall())
    for s in soup:
        want = _py_code_tokens(s)
        assert got_spark[s] == want, (s, got_spark[s], want)
        assert got_duck[s] == want, (s, got_duck[s], want)


@pytest.fixture(scope="module")
def code_index(spark):
    rows = [
        (1, "r0", "src/HTTPServer.py", "c" * 40, "py",
         "class HTTPServer: def handleRequest(self): parse_html(self.rawBody)"),
        (2, "r0", "src/client.py", "c" * 40, "py",
         "getUserName fetches the user name from the server cache"),
        (3, "r1", "src/util.py", "c" * 40, "py",
         "def snake_case_helper(value): return value"),
        (4, "r1", "src/noop.py", "c" * 40, "py", "nothing relevant here"),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, repo string, path string, commit string, lang string, content string"
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))
    return FullTextIndex.build_fused(
        spark, corpus, BuildConfig(n_slices=2, positions=True, analyzer="code")
    )


def test_code_index_subtoken_match(code_index):
    # `server` only exists via splitting HTTPServer / "the server cache"
    ids = sorted(r["doc_id"] for r in code_index.match("server").collect())
    assert ids == [1, 2]
    # acronym subtoken
    assert sorted(r["doc_id"] for r in code_index.match("http").collect()) == [1]
    # snake parts
    assert sorted(r["doc_id"] for r in code_index.match("snake & helper").collect()) == [3]
    # camel parts as a positional phrase (adjacent subtokens)
    assert sorted(r["doc_id"] for r in code_index.match('"user name"').collect()) == [2]
    # the unsplit identifier is NOT in the vocabulary (word-parts only mode)
    assert code_index.match("httpserver").count() == 0


def test_code_index_mode_parity(code_index):
    for q in ["server", "get & user", '"handle request"', "value -server"]:
        a = [(r["doc_id"], round(r["score"], 6))
             for r in reference_search(code_index, q, k=4).collect()]
        b = [
            (r["doc_id"], round(r["score"], 6))
            for r in code_index.search(q, k=4, mode="kernel").collect()
        ]
        assert a == b, (q, a, b)


def test_code_index_path_stream_split(code_index):
    # path "src/HTTPServer.py" under the code analyzer yields subtoken
    # `server` in the path stream
    assert sorted(r["doc_id"] for r in code_index.match("path:server").collect()) == [1]
