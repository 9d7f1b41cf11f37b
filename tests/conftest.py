import os

import duckdb
import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bitfunnel_spark.session import get_spark

    s = get_spark("bitfunnel-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        path = f"{TESTDATA}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def corpus(spark):
    from bitfunnel_spark.sources.corpus import corpus_from_documents, load_documents

    return corpus_from_documents(load_documents(spark, TESTDATA)).cache()


@pytest.fixture(scope="session")
def index(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build(spark, corpus, BuildConfig(n_slices=4))


def reference_search(index, query, k=10, facts=None, after=None, similarity="bm25"):
    """Top-k from the declarative reference executor (plans/executor.py),
    after the same query preparation FullTextIndex.search applies
    (prepare_query, then indexed facts as filter conjuncts). The reference
    half of the kernel-vs-reference parity tests."""
    from bitfunnel_spark.plans.executor import search_dataframe

    node, facts = index._prepared(query, facts)
    return search_dataframe(index, node, k, facts, after=after, similarity=similarity)


def reference_match(index, query, facts=None):
    """The reference executor's unscored match set, prepared as in
    FullTextIndex.match."""
    from bitfunnel_spark.plans.executor import match_dataframe

    return match_dataframe(index, *index._prepared(query, facts))


def search_in(mode, index, query, k=10, facts=None, after=None, similarity="bm25"):
    """One half of a test parametrized over ("dataframe", "kernel"): the
    reference executor, or the served kernel (search / search_after)."""
    if mode == "dataframe":
        return reference_search(index, query, k, facts, after, similarity)
    if after is not None:
        return index.search_after(query, after, k=k, facts=facts)
    return index.search(query, k=k, facts=facts, similarity=similarity)
