"""bitfunnel_spark — a PySpark-native full-text index build + BM25 query engine.

Brand-new engine with the *capabilities* of BitFunnel (/root/reference,
C++, MIT): document ingestion into a term index, sharding by document
length, document-frequency-driven term treatment, boolean query matching
(AND / OR / NOT / phrase / stream-restricted terms), plus a BM25 top-k
scoring layer the reference delegated downstream (see SURVEY.md §0).

This is NOT a port: the reference is an in-memory bit-sliced signature
index; this engine is a Parquet/Iceberg-backed exact inverted index built
and served with idiomatic Spark (DataFrames, higher-order functions,
Arrow-vectorized kernels via applyInPandas/mapInPandas).

Layout
------
- ``sources``   corpus loading / synthetic generation / chunk-format parity reader
- ``functions`` tokenizer, cross-engine hashing, text analysis (all JVM-side F.*)
- ``operators`` build pipeline (statistics, sharding, treatments, postings,
                codec) and training-data ops (dedup, similarity)
- ``plans``     query parser → AST → planner → the one kernel (plans/kernel.py);
                plans/executor.py is the declarative reference it is verified
                against
- ``streaming`` incremental ingest (Structured Streaming)
"""

from bitfunnel_spark._worker import install_in_worker
from bitfunnel_spark.config import BM25Params, BuildConfig
from bitfunnel_spark.index import FullTextIndex

# Engine UDFs import this package when a Python worker unpickles them:
# from then on the worker skips re-reading unchanged zip archives on each
# task (see _worker.py). A no-op on the driver.
install_in_worker()

__all__ = ["BM25Params", "BuildConfig", "FullTextIndex"]
__version__ = "0.1.0"
