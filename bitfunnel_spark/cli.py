"""CLI — the `spark-submit --py-files` surface (north_rule).

Subcommands mirror the reference tool's verbs
(/root/reference/tools/BitFunnel/src/BitFunnelTool.cpp:87-116:
statistics / termtable / repl's `query one` and `query log`):

    build      corpus parquet → checkpointed index (resumable)
    query      one query against a built index → top-k to stdout
    querylog   a file of queries → per-query latency CSV + summary (QPS),
               like the reference's QuerySummaryStatistics
               (/root/reference/src/Plan/src/QueryRunner.cpp:67-92)
    compact    fold streaming increments into the main segment store
    stats      corpus-statistics pass (the reference `statistics` verb):
               doclen histogram + df/idf/treatment table head
    filterchunks  corpus sampling/filter over chunk files (FilterChunks
               tool parity: random fraction / posting band / doc cap)
    genqueries synthesize a benchmark query log from the index's df table
               (QueryGenerator.cpp parity)
    verify     query log → kernel-vs-DataFrame cross check per query
               (false-positive/negative audit — the reference's
               `verify log`, src/Plan/src/MatchVerifier.cpp:205-221)
    profile    query log → per-query blocks decoded/skipped + timings
               (QueryInstrumentation.h:63-70 parity, plans/profile.py)
    repl       interactive loop: `<query>` searches, `!match <q>` matches,
               `!verify <q>` cross-checks, `!profile <q>` instruments,
               `!facets <q>` / `!snippets <q>` / `!mlt <doc_id>` serve
               (the reference tool's REPL, tools/BitFunnel/src/
               REPL.cpp / QueryCommand.cpp / VerifyCommand.cpp)
    facets     facet value counts over a query's match set
    snippets   top-k with token-window snippets
    mlt        more-like-this: top-k docs similar to a given doc_id
    snapshots  list the index's retained snapshot log (time travel)

Example (cluster: ship the package as a zip, run cli.py as the driver
script — exercised end-to-end by tests/test_spark_submit.py):
    spark-submit --master yarn --py-files bitfunnel_spark.zip \\
        bitfunnel_spark/cli.py build --corpus /data/corpus --index /data/index
    python -m bitfunnel_spark.cli query --corpus ... --index ... "data -slow"
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from bitfunnel_spark.session import get_spark

    return get_spark("bitfunnel-cli", cores=args.cores)


def _config():
    from bitfunnel_spark.config import BuildConfig

    return BuildConfig()


def _load(spark, args):
    from bitfunnel_spark.operators.checkpoint import CheckpointedBuild

    corpus = spark.read.parquet(args.corpus)
    return CheckpointedBuild(spark, args.index, _config()).load_index(corpus)


def cmd_build(args) -> None:
    from bitfunnel_spark.operators.checkpoint import CheckpointedBuild

    spark = _spark(args)
    corpus = spark.read.parquet(args.corpus)
    t0 = time.time()
    CheckpointedBuild(spark, args.index, _config()).build(corpus)
    n = corpus.count()
    dt = time.time() - t0
    print(json.dumps({"docs": n, "build_sec": round(dt, 2), "files_per_sec": round(n / dt, 2)}))


def cmd_query(args) -> None:
    spark = _spark(args)
    idx = _load(spark, args)
    for r in idx.search(args.query, k=args.k).collect():
        print(f"{r['doc_id']}\t{r['score']}")


def cmd_facets(args) -> None:
    from bitfunnel_spark.plans.serving import facet_counts

    spark = _spark(args)
    idx = _load(spark, args)
    for r in facet_counts(idx, args.query, facets=tuple(args.facets.split(","))).collect():
        print(f"{r['facet']}\t{r['value']}\t{r['n_docs']}")


def cmd_snippets(args) -> None:
    from bitfunnel_spark.plans.serving import snippets

    spark = _spark(args)
    idx = _load(spark, args)
    for r in snippets(idx, args.query, k=args.k, window=args.window).collect():
        print(f"{r['doc_id']}\t{r['score']}\t{r['snippet']}")


def cmd_mlt(args) -> None:
    from bitfunnel_spark.plans.serving import more_like_this

    spark = _spark(args)
    idx = _load(spark, args)
    for r in more_like_this(idx, args.doc_id, k=args.k, m=args.m).collect():
        print(f"{r['doc_id']}\t{r['score']}")


def cmd_snapshots(args) -> None:
    from bitfunnel_spark.streaming.ingest import snapshots

    for s in snapshots(args.index):
        print(
            json.dumps(
                {
                    "snapshot_id": s["snapshot_id"],
                    "operation": s.get("operation"),
                    "runs": len(s["runs"]),
                    "live_batches": s.get("live_batches", []),
                }
            )
        )


def cmd_querylog(args) -> None:
    spark = _spark(args)
    idx = _load(spark, args)
    queries = [l.strip() for l in open(args.log) if l.strip() and not l.startswith("#")]
    idx.search(queries[0], k=args.k).collect()  # warm
    rows, t_all = [], time.time()
    for q in queries:
        t0 = time.time()
        n = len(idx.search(q, k=args.k).collect())
        rows.append((q, round(time.time() - t0, 4), n))
    elapsed = time.time() - t_all
    print("query\tlatency_sec\tmatches")
    for q, lat, n in rows:
        print(f"{q}\t{lat}\t{n}")
    lats = sorted(r[1] for r in rows)
    print(
        json.dumps(
            {
                "queries": len(rows),
                "elapsed_sec": round(elapsed, 2),
                "qps": round(len(rows) / elapsed, 3),
                "p50_sec": lats[len(lats) // 2],
                "p90_sec": lats[int(len(lats) * 0.9)],
            }
        ),
        file=sys.stderr,
    )


def _verify_one(idx, q: str, k: int) -> dict:
    """Kernel-vs-reference cross check for one query (MatchVerifier.cpp
    pattern: the exhaustive evaluation — plans/executor.py, the declarative
    reference — is the truth oracle; for our exact index both must agree
    EXACTLY — any diff is a bug, unlike the reference's quantified false
    positives)."""
    from bitfunnel_spark.plans.executor import search_dataframe

    node, facts = idx._prepared(q, None)
    kern = [(r["doc_id"], r["score"]) for r in idx.search(q, k=k).collect()]
    base = [(r["doc_id"], r["score"]) for r in search_dataframe(idx, node, k, facts).collect()]
    kset, bset = {d for d, _ in kern}, {d for d, _ in base}
    return {
        "query": q,
        "ok": kern == base,
        "false_positives": sorted(kset - bset),
        "false_negatives": sorted(bset - kset),
        "kernel_rows": len(kern),
        "oracle_rows": len(base),
    }


def cmd_verify(args) -> None:
    spark = _spark(args)
    idx = _load(spark, args)
    queries = [l.strip() for l in open(args.log) if l.strip() and not l.startswith("#")]
    bad = 0
    for q in queries:
        res = _verify_one(idx, q, args.k)
        bad += 0 if res["ok"] else 1
        print(json.dumps(res))
    print(json.dumps({"queries": len(queries), "mismatches": bad}), file=sys.stderr)
    if bad:
        sys.exit(1)


def cmd_profile(args) -> None:
    from bitfunnel_spark.plans.profile import profile_many, summarize

    spark = _spark(args)
    idx = _load(spark, args)
    queries = [l.strip() for l in open(args.log) if l.strip() and not l.startswith("#")]
    metrics, timings = profile_many(idx, queries, k=args.k)
    rows = summarize(metrics).collect()
    print("query_id\tquery\tblocks_total\tblocks_decoded\tskip_ratio\trows\tkernel_ms")
    for r in rows:
        q = queries[r["query_id"]]
        print(
            f"{r['query_id']}\t{q}\t{r['blocks_total']}\t{r['blocks_decoded']}"
            f"\t{r['skip_ratio']}\t{r['rows']}\t{r['kernel_ms_sum']}"
        )
    print(json.dumps(timings), file=sys.stderr)


def cmd_filterchunks(args) -> None:
    """Corpus sampling/filter over chunk files (the reference's
    FilterChunks tool — FilterChunks.cpp:76-115: random fraction, posting
    count band, doc cap — applied in the same order)."""
    from bitfunnel_spark.sources.chunks import chunks_to_corpus, write_chunks
    from bitfunnel_spark.sources.filters import composite_filter

    spark = _spark(args)
    corpus = chunks_to_corpus(spark, args.input)
    out = composite_filter(
        corpus,
        fraction=args.fraction,
        min_postings=args.min_postings,
        max_postings=args.max_postings,
        max_docs=args.count,
        seed=args.seed,
    )
    n = write_chunks(out, args.out)
    print(json.dumps({"chunks_written": n}))


def cmd_stats(args) -> None:
    """Corpus-statistics pass (the reference's `BitFunnel statistics`
    verb): doclen histogram, shard plan, df/idf table head — the build-side
    analytics over a corpus parquet."""
    from bitfunnel_spark import BuildConfig, FullTextIndex
    from bitfunnel_spark.operators.sharding import doclen_histogram

    spark = _spark(args)
    corpus = spark.read.parquet(args.corpus)
    cfg = BuildConfig()
    idx = FullTextIndex.build(spark, corpus, cfg, cache=False)
    meta = {"n_docs": idx.n_docs, "avgdl": round(idx.avgdl, 4)}
    print(json.dumps(meta))
    print("doclen\tdoc_count")
    for r in doclen_histogram(idx.doc_stats).orderBy("doclen").collect():
        print(f"{r['doclen']}\t{r['doc_count']}")
    print("term\tstream\tdf\tidf_x10\ttreatment")
    from pyspark.sql import functions as F

    rows = (
        idx.term_stats.orderBy(F.desc("df"), "term").limit(args.top).collect()
    )
    for r in rows:
        print(f"{r['term']}\t{r['stream']}\t{r['df']}\t{r['idf_x10']}\t{r['treatment']}")


def cmd_genqueries(args) -> None:
    """Synthesize a benchmark query log from the index's own df table (the
    reference tool's QueryGenerator — QueryGenerator.cpp:60-96)."""
    from bitfunnel_spark.plans.generator import generate_query_log

    spark = _spark(args)
    idx = _load(spark, args)
    for q in generate_query_log(idx.term_stats, args.n, seed=args.seed):
        print(q)


def cmd_repl(args) -> None:
    spark = _spark(args)
    idx = _load(spark, args)
    print(
        "bitfunnel_spark repl — <query> | !match <q> | !verify <q> | !profile <q>"
        " | !facets <q> | !fstats <q> | !collapse <q> | !snippets <q>"
        " | !mlt <doc_id> | !suggest <prefix> | !dym <term> | !explain <q>"
        " | !grep <literal> | !egrep <regex> | !notnear <w> <excl> <terms>"
        " | !sparse tok:w ... | !knn <vec_id> | !hybrid <vec_id> <q>"
        " | !rerank <vec_id> <q> | !dsl <es-json> | !count <es-json>"
        " | !show <term> | !terms <prefix> [stream] | !fields | !mget <ids>"
        " | !analyze <text> | !validate <json>"
        " | !threads <n> | !script <file> | !quit"
    )

    def _emb_df():
        if getattr(args, "emb", None) is None:
            raise ValueError("start the repl with --emb <embeddings.parquet>")
        if not hasattr(idx, "_repl_emb"):
            idx._repl_emb = spark.read.parquet(args.emb).cache()
        return idx._repl_emb

    def _emb_qv(vec_id: int):
        from pyspark.sql import functions as F

        row = _emb_df().filter(F.col("vec_id") == vec_id).head()
        if row is None:
            raise ValueError(f"vec_id {vec_id} not in {args.emb}")
        return [float(x) for x in row.embedding]
    def handle(line: str) -> bool:
        """Dispatch one REPL line (shared by interactive input and !script
        command files); returns False when the session should end."""
        if not line:
            return True
        if line in ("!quit", "!exit"):
            return False
        try:
            if line.startswith("!match "):
                docs = sorted(r["doc_id"] for r in idx.match(line[7:]).collect())
                print(f"{len(docs)} matches: {docs[:50]}{' ...' if len(docs) > 50 else ''}")
            elif line.startswith("!verify "):
                print(json.dumps(_verify_one(idx, line[8:], args.k)))
            elif line.startswith("!suggest "):
                from bitfunnel_spark.plans.expand import suggest

                for r in suggest(idx, line[9:].strip(), k=args.k).collect():
                    print(f"{r['term']}\t{r['df']}")
            elif line.startswith("!explain "):
                from bitfunnel_spark.plans.serving import explain

                for r in explain(idx, line[9:], k=args.k).collect():
                    print(
                        f"{r['doc_id']}\tscore={r['score']}\t{r['stream']}:{r['term']}"
                        f"\ttf={r['tf']}\t+{r['contribution']}"
                    )
            elif line.startswith("!dsl "):
                # any ES _search body (JSON) through the full DSL surface
                from bitfunnel_spark.plans.dsl import search_dsl

                body = json.loads(line[5:])
                rows = search_dsl(idx, body, k=args.k).collect()
                cols = list(rows[0].asDict()) if rows else []
                for r in rows:
                    print("\t".join(str(r[c]) for c in cols))
                print(f"({len(rows)} rows{': ' + ', '.join(cols) if cols else ''})")
            elif line.startswith("!count "):
                from bitfunnel_spark.plans.dsl import count_dsl

                body = json.loads(line[7:])
                print(count_dsl(idx, body).collect()[0]["count"])
            elif line.startswith("!aggs "):
                # any ES aggs body (JSON) through run_aggs — terms facets,
                # metric leaves, pipelines, range-filtered queries
                from bitfunnel_spark.plans.dsl import run_aggs

                body = json.loads(line[6:])
                rows = run_aggs(idx, body).collect()
                cols = list(rows[0].asDict()) if rows else []
                for r in rows:
                    print("\t".join(str(r[c]) for c in cols))
                print(f"({len(rows)} rows{': ' + ', '.join(cols) if cols else ''})")
            elif line.startswith("!dbq "):
                # ES _delete_by_query: tombstone every match, report count
                from bitfunnel_spark.plans.dsl import delete_by_query

                body = json.loads(line[5:])
                print(f"deleted: {delete_by_query(idx, body)}")
            elif line.startswith("!dym "):
                from bitfunnel_spark.plans.expand import did_you_mean

                for r in did_you_mean(idx, line[5:].strip(), k=args.k).collect():
                    print(f"{r['term']}\tdist={r['dist']}\tdf={r['df']}")
            elif line.startswith("!facets "):
                from bitfunnel_spark.plans.serving import facet_counts

                for r in facet_counts(idx, line[8:]).collect():
                    print(f"{r['facet']}\t{r['value']}\t{r['n_docs']}")
            elif line.startswith("!fstats "):
                from bitfunnel_spark.plans.serving import facet_stats

                for r in facet_stats(idx, line[8:]).collect():
                    print(
                        f"{r[0]}\tn={r['n_docs']}\tavg={r['avg_doclen']}"
                        f"\tmin={r['min_doclen']}\tmax={r['max_doclen']}"
                    )
            elif line.startswith("!collapse "):
                from bitfunnel_spark.plans.serving import collapse_topk

                for r in collapse_topk(idx, line[10:], k=args.k).collect():
                    print(f"{r['doc_id']}\t{r['score']}\t{r[2]}")
            elif line.startswith("!snippets "):
                from bitfunnel_spark.plans.serving import snippets

                for r in snippets(idx, line[10:], k=args.k).collect():
                    print(f"{r['doc_id']}\t{r['score']}\t{r['snippet']}")
            elif line.startswith("!mlt "):
                from bitfunnel_spark.plans.serving import more_like_this

                for r in more_like_this(idx, int(line[5:]), k=args.k).collect():
                    print(f"{r['doc_id']}\t{r['score']}")
            elif line.startswith("!near "):
                # !near slop term term [term...] — unordered proximity
                from bitfunnel_spark.plans.serving import span_near

                parts = line[6:].split()
                for r in span_near(idx, parts[1:], slop=int(parts[0]), k=args.k).collect():
                    print(f"{r['doc_id']}\t{r['score']}")
            elif line.startswith("!notnear "):
                # !notnear window exclude term [term...] — span_not
                from bitfunnel_spark.plans.serving import span_not

                parts = line[9:].split()
                w = int(parts[0])
                for r in span_not(
                    idx, parts[2:], parts[1], pre=w, post=w, k=args.k
                ).collect():
                    print(f"{r['doc_id']}\t{r['score']}")
            elif line.startswith("!grep ") or line.startswith("!egrep "):
                # literal (!grep) / regex (!egrep) substring search over
                # raw content via the trigram index (built lazily once)
                from bitfunnel_spark.operators.trigram import (
                    build_trigram_index,
                    regex_search,
                    substring_search,
                )

                if not hasattr(idx, "_repl_tri"):
                    idx._repl_tri = build_trigram_index(idx.corpus, text_col="content").cache()
                is_re = line.startswith("!egrep ")
                pat = line[7:] if is_re else line[6:]
                fn = regex_search if is_re else substring_search
                hits = fn(idx._repl_tri, idx.corpus, pat, text_col="content").orderBy("doc_id")
                ids = [r["doc_id"] for r in hits.collect()]
                print(f"{len(ids)} files: {ids[:50]}{' ...' if len(ids) > 50 else ''}")
            elif line.startswith("!sparse "):
                # !sparse tok:w tok:w ... — ES sparse_vector / dot_tf
                from bitfunnel_spark.plans.dsl import search_dsl

                qv = {}
                for part in line[8:].split():
                    tok, _, w = part.partition(":")
                    qv[tok] = float(w) if w else 1.0
                body = {"query": {"sparse_vector": {"query_vector": qv}},
                        "size": args.k}
                for r in search_dsl(idx, body).collect():
                    print(f"{r['doc_id']}\t{r['score']}")
            elif line.startswith("!knn "):
                # !knn <vec_id> — exact knn body with that row's embedding
                from bitfunnel_spark.plans.vector_dsl import knn_search

                vid = int(line[5:].strip())
                body = {"knn": {"query_vector": _emb_qv(vid), "k": args.k}}
                for r in knn_search(_emb_df(), body).collect():
                    print(f"{r['vec_id']}\t{r['cosine']}")
            elif line.startswith("!hybrid "):
                # !hybrid <vec_id> <query...> — BM25 + knn RRF fusion
                from bitfunnel_spark.plans.vector_dsl import rrf_search

                vid_s, _, q = line[8:].strip().partition(" ")
                body = {
                    "retriever": {"rrf": {"retrievers": [
                        {"standard": {"query": {"query_string": {"query": q}}}},
                        {"knn": {"query_vector": _emb_qv(int(vid_s)),
                                 "k": 5 * args.k}},
                    ], "rank_window_size": 5 * args.k}},
                    "size": args.k,
                }
                for r in rrf_search(idx, _emb_df(), body).collect():
                    print(f"{r['doc_id']}\t{r['rrf_score']:.6f}")
            elif line.startswith("!rerank "):
                # !rerank <vec_id> <query...> — cosine rerank of the BM25 window
                from bitfunnel_spark.plans.vector_dsl import rerank_search

                vid_s, _, q = line[8:].strip().partition(" ")
                body = {
                    "retriever": {"text_similarity_reranker": {
                        "retriever": {"standard": {"query": {
                            "query_string": {"query": q}}}},
                        "rank_window_size": 5 * args.k,
                        "query_vector": _emb_qv(int(vid_s)),
                    }},
                    "size": args.k,
                }
                for r in rerank_search(idx, _emb_df(), body).collect():
                    print(f"{r['doc_id']}\t{r['rerank_score']}")
            elif line.startswith("!hist "):
                from bitfunnel_spark.plans.serving import histogram

                for r in histogram(idx, line[6:]).collect():
                    print(f"{r['bucket']}\t{r['n_docs']}")
            elif line.startswith("!stats "):
                from bitfunnel_spark.plans.serving import extended_stats

                r = extended_stats(idx, line[7:]).collect()[0]
                print(
                    f"n={r['n_docs']} sum={r['sum_doclen']} avg={r['avg_doclen']}"
                    f" var={r['var_doclen']} std={r['std_doclen']}"
                )
            elif line.startswith("!profile "):
                from bitfunnel_spark.plans.profile import profile_many, summarize

                metrics, timings = profile_many(idx, [line[9:]], k=args.k)
                for r in summarize(metrics).collect():
                    print(
                        f"blocks {r['blocks_decoded']}/{r['blocks_total']} decoded "
                        f"(skip {r['skip_ratio']}), rows {r['rows']}, "
                        f"kernel {r['kernel_ms_sum']} ms, parse {timings['parse_ms']} ms, "
                        f"plan {timings['plan_ms']} ms"
                    )
            elif line.startswith("!show "):
                # dictionary/postings introspection (the reference REPL's
                # `show rows <term>` — tools/BitFunnel/src/ShowCommand.cpp
                # prints a term's row configuration; the segment-store
                # analogue is df/idf/treatment plus the term's physical
                # block/posting/shard footprint from segment METADATA —
                # postings are never decoded)
                from pyspark.sql import functions as F

                from bitfunnel_spark.operators.segments import _term_key_py

                term = line[6:].strip().lower()
                ts_rows = idx.term_stats.filter(F.col("term") == term).collect()
                if not ts_rows:
                    print(f"'{term}' not in dictionary")
                for r in ts_rows:
                    tk = _term_key_py(r["stream"], term)
                    seg = (
                        idx.segments.filter(F.col("term_key") == tk)
                        .agg(
                            F.count("*").alias("blocks"),
                            F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
                            F.countDistinct("shard").alias("shards"),
                            F.countDistinct("slice").alias("slices"),
                        )
                        .collect()[0]
                    )
                    print(
                        f"{r['stream']}:{term}\tdf={r['df']}\tidf_x10={r['idf_x10']}"
                        f"\ttreatment={r['treatment']}\tblocks={seg['blocks']}"
                        f"\tpostings={seg['postings']}\tshards={seg['shards']}"
                        f"\tslices={seg['slices']}"
                    )
            elif line.startswith("!terms "):
                # ES _terms_enum: dictionary terms with a prefix, index
                # order (typeahead / keyword discovery)
                from bitfunnel_spark.plans.serving import terms_enum

                parts = line[7:].split()
                prefix = parts[0] if parts else ""
                field = parts[1] if len(parts) > 1 else "body"
                for r in terms_enum(idx, prefix, size=args.k, field=field).collect():
                    print(r["term"])
            elif line.startswith("!mget "):
                # ES _mget: fetch docs by id, request order, found flags
                from bitfunnel_spark.plans.serving import mget

                ids = [int(x) for x in line[6:].replace(",", " ").split()]
                for r in mget(idx, ids).collect():
                    mark = "" if r["found"] else "\tNOT FOUND"
                    print(f"{r['doc_id']}\t{r['repo']}\t{r['path']}"
                          f"\t{r['lang']}{mark}")
            elif line.strip() == "!fields":
                # ES _field_caps/_mapping analogue: the searchable streams
                # with their vocabulary sizes, then the stored corpus
                # columns with Spark types
                from pyspark.sql import functions as F

                for r in (
                    idx.term_stats.groupBy("stream")
                    .agg(F.count("*").alias("terms"))
                    .orderBy("stream")
                    .collect()
                ):
                    print(f"{r['stream']}\tsearchable stream\tterms={r['terms']}")
                for f_ in idx.corpus.schema.fields:
                    print(f"{f_.name}\tstored column\t{f_.dataType.simpleString()}")
            elif line.startswith("!analyze "):
                # ES _analyze: the exact token stream the build would store
                # for this text under the index's analyzer
                from bitfunnel_spark.functions.tokenizer import analyze_text

                analyzer = getattr(idx.config, "analyzer", "standard")
                for r in analyze_text(spark, line[9:], analyzer=analyzer).collect():
                    print(f"{r['position']}\t{r['token']}")
            elif line.startswith("!validate "):
                # ES _validate/query?explain=true: compile the DSL body
                # (never execute) and echo the rewritten engine query —
                # invalid bodies report instead of raising
                import json as _json

                from bitfunnel_spark.plans.dsl import validate_query

                ok, explanation = validate_query(_json.loads(line[10:]))
                print(f"valid: {str(ok).lower()}\texplanation: {explanation}")
            elif line.startswith("!threads "):
                # reference REPL's `threads <count>` (tools/BitFunnel/src/
                # ThreadsCommand.cpp sets the matcher's query thread count).
                # The Spark analogue of query-processing parallelism is the
                # session's shuffle partitioning — executor task slots are
                # fixed at launch, but every kernel/agg stage's task count
                # follows this conf, which IS runtime-settable per session
                n = int(line[9:].strip())
                spark.conf.set("spark.sql.shuffle.partitions", str(n))
                print(f"Matcher now using {n} shuffle partition{'' if n == 1 else 's'}.")
            elif line.startswith("!script "):
                # batch command file (the reference REPL's `script` verb —
                # tools/BitFunnel/src/ScriptCommand.cpp): one repl line per
                # file line, '#' comments skipped, !quit inside ends the
                # session
                path = line[8:].strip()
                with open(path) as fh:
                    for cmd in fh:
                        cmd = cmd.strip()
                        if not cmd or cmd.startswith("#"):
                            continue
                        print(f"bf> {cmd}")
                        if not handle(cmd):
                            return False
            else:
                t0 = time.time()
                for r in idx.search(line, k=args.k).collect():
                    print(f"{r['doc_id']}\t{r['score']}")
                print(f"({time.time() - t0:.3f}s)", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — REPL: report, keep looping
            print(f"error: {type(e).__name__}: {e}", file=sys.stderr)
        return True

    while True:
        try:
            line = input("bf> ").strip()
        except EOFError:
            break
        if not handle(line):
            break


def cmd_compact(args) -> None:
    from bitfunnel_spark.streaming.ingest import compact

    spark = _spark(args)
    corpus = spark.read.parquet(args.corpus)
    compact(spark, args.index, _config(), corpus)
    print("compacted")


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="bitfunnel_spark")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (default: $SPARK_GRAFT_CPUS)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query")
    q.add_argument("--corpus", required=True)
    q.add_argument("--index", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("query")
    q.set_defaults(fn=cmd_query)

    ql = sub.add_parser("querylog")
    ql.add_argument("--corpus", required=True)
    ql.add_argument("--index", required=True)
    ql.add_argument("--k", type=int, default=10)
    ql.add_argument("log")
    ql.set_defaults(fn=cmd_querylog)

    c = sub.add_parser("compact")
    c.add_argument("--corpus", required=True)
    c.add_argument("--index", required=True)
    c.set_defaults(fn=cmd_compact)

    v = sub.add_parser("verify")
    v.add_argument("--corpus", required=True)
    v.add_argument("--index", required=True)
    v.add_argument("--k", type=int, default=10)
    v.add_argument("log")
    v.set_defaults(fn=cmd_verify)

    pr = sub.add_parser("profile")
    pr.add_argument("--corpus", required=True)
    pr.add_argument("--index", required=True)
    pr.add_argument("--k", type=int, default=10)
    pr.add_argument("log")
    pr.set_defaults(fn=cmd_profile)

    fc = sub.add_parser("filterchunks")
    fc.add_argument("--input", required=True, help="chunk-file directory")
    fc.add_argument("--out", required=True, help="output chunk directory")
    fc.add_argument("--fraction", type=float, default=None)
    fc.add_argument("--seed", type=int, default=42)
    fc.add_argument("--min-postings", type=int, default=0)
    fc.add_argument("--max-postings", type=int, default=None)
    fc.add_argument("--count", type=int, default=None)
    fc.set_defaults(fn=cmd_filterchunks)

    st = sub.add_parser("stats")
    st.add_argument("--corpus", required=True)
    st.add_argument("--top", type=int, default=20)
    st.set_defaults(fn=cmd_stats)

    gq = sub.add_parser("genqueries")
    gq.add_argument("--corpus", required=True)
    gq.add_argument("--index", required=True)
    gq.add_argument("--n", type=int, default=50)
    gq.add_argument("--seed", type=int, default=0)
    gq.set_defaults(fn=cmd_genqueries)

    r = sub.add_parser("repl")
    r.add_argument("--corpus", required=True)
    r.add_argument("--index", required=True)
    r.add_argument("--k", type=int, default=10)
    r.add_argument("--emb", default=None,
                   help="embeddings parquet (vec_id, embedding[, ...]) — "
                        "enables !knn / !hybrid / !rerank")
    r.set_defaults(fn=cmd_repl)

    fa = sub.add_parser("facets")
    fa.add_argument("--corpus", required=True)
    fa.add_argument("--index", required=True)
    fa.add_argument("--facets", default="lang,repo")
    fa.add_argument("query")
    fa.set_defaults(fn=cmd_facets)

    sn = sub.add_parser("snippets")
    sn.add_argument("--corpus", required=True)
    sn.add_argument("--index", required=True)
    sn.add_argument("--k", type=int, default=10)
    sn.add_argument("--window", type=int, default=4)
    sn.add_argument("query")
    sn.set_defaults(fn=cmd_snippets)

    ml = sub.add_parser("mlt")
    ml.add_argument("--corpus", required=True)
    ml.add_argument("--index", required=True)
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--m", type=int, default=8)
    ml.add_argument("doc_id", type=int)
    ml.set_defaults(fn=cmd_mlt)

    sp = sub.add_parser("snapshots")
    sp.add_argument("--index", required=True)
    sp.set_defaults(fn=cmd_snapshots)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
