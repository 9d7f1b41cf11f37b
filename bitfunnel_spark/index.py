"""FullTextIndex — the engine facade.

Build pipeline (SURVEY §7): tokenize → doc stats + postings (no shuffle) →
term stats (one agg shuffle) → [optional] encoded posting segments
(operators/segments.py). Query: parse → plan → execute on the one kernel
(plans/kernel.py: block-max WAND top-k, full scored match sets, unscored
match sets). plans/executor.py is the declarative reference the parity
tests compare the kernel against; no query method runs it.

The reference's equivalent lifecycle is SimpleIndex + Ingestor
(/root/reference/src/Index/src/SimpleIndex.cpp, Ingestor.cpp:210-269) and
QueryRunner (/root/reference/src/Plan/src/QueryRunner.cpp:282-402).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitfunnel_spark.config import BuildConfig
from bitfunnel_spark.operators import statistics as stats


@dataclass
class FullTextIndex:
    spark: SparkSession
    config: BuildConfig
    corpus: DataFrame  # (doc_id, repo, path, commit, lang, content, content_sha256)
    doc_stats: DataFrame  # (doc_id, doclen, shard, slice, content_sha256)
    postings: DataFrame  # (term, stream, doc_id, tf, doclen, shard, slice)
    term_stats: DataFrame  # (term, stream, df, idf, idf_x10, treatment)
    n_docs: int
    avgdl: float
    max_doclen: int = 0  # gates the positional phrase path (POS_SAFE_DOCLEN)
    segments: DataFrame | None = None  # encoded posting segments (built on demand)
    # whether `segments` physically carries pos_vb. Only the fused build
    # encodes positions (occurrence-level input); the row-form build path
    # consumes tf-aggregated postings and cannot. The positional phrase
    # path gates on this, so a positions=True config whose segments came
    # from the row path degrades to the distributed fallback instead of
    # failing to decode.
    segments_positional: bool = True
    key_stats: DataFrame | None = None  # (term_key, df, idf, ...) serve dictionary
    _idf_map: dict | None = None  # driver-resident {term_key: idf} (lazy)
    _idf_map_over_limit: bool = False  # memoized "dictionary too big" outcome
    tombstones: frozenset = frozenset()  # soft-deleted doc ids (delete_docs)
    facts: dict = field(default_factory=dict)  # name -> doc-id DataFrame (define_fact)
    indexed_facts: dict = field(default_factory=dict)  # name -> posting rows (define_fact_indexed)
    synonyms: dict | None = None  # body-term synonym map (set_synonyms)
    synonym_mode: str = "expand"  # "expand" (OR) | "blend" (SynonymQuery)

    # terms above this, fall back to per-query filtered collects rather than
    # holding the whole dictionary on the driver
    IDF_MAP_MAX_TERMS = 5_000_000

    def _key_stats_df(self) -> DataFrame:
        """(term_key, idf, ...) — from the segment-derived serve dictionary
        when present, else projected from the string term table."""
        if self.key_stats is not None:
            return self.key_stats
        from bitfunnel_spark.operators.segments import term_key_col

        return self.term_stats.select(
            term_key_col(F.col("stream"), F.col("term")).alias("term_key"), "idf"
        )

    def idf_map(self) -> dict | None:
        """Driver-resident {term_key: idf} — the reference keeps its (hash-
        keyed) TermTable in process memory the same way (SimpleIndex.cpp;
        term text is never retained, Term.h:44-47). Removes one Spark job
        per query. Returns None when the dictionary exceeds
        IDF_MAP_MAX_TERMS (the 10^12-doc path then uses per-query filtered
        lookups / a broadcast dictionary instead); that outcome is memoized
        so the vocabulary count job runs at most once per index."""
        if self._idf_map_over_limit:
            return None
        if self._idf_map is None:
            ks = self._key_stats_df()
            if ks.count() > self.IDF_MAP_MAX_TERMS:
                self._idf_map_over_limit = True
                return None
            rows = ks.select("term_key", "idf").collect()
            self._idf_map = {int(r[0]): float(r[1]) for r in rows}
        return self._idf_map

    def idf_for_terms(self, terms) -> dict:
        """{term_string: idf} for a query's BODY terms: the body-stream
        projection of idf_for_keys (the same resident-map or bucket-pruned
        lookup)."""
        body = {(s, t) for s, t in terms if s == "body"}
        return {t: idf for (_, t), idf in self.idf_for_keys(body).items()}

    def idf_for_keys(self, terms) -> dict:
        """{(stream, term): idf} for a query's keys — ALL streams (the
        field-weighted scoring path needs non-body idf too): the resident
        map when it fits, else one filtered collect over the key
        dictionary. When the dictionary is the persisted bucket-partitioned
        layout (statistics.write_dictionary), the added ``term_bucket``
        predicate prunes to ≤ |terms| partition directories and the
        ``term_key`` IN-list prunes row groups — a point lookup regardless
        of dictionary size (the past-driver-cap serve path)."""
        from bitfunnel_spark.operators.segments import _term_bucket_py, _term_key_py

        pairs = sorted({(s, t) for s, t in terms})
        keys = {p: _term_key_py(p[0], p[1]) for p in pairs}
        m = self.idf_map()
        if m is not None:
            return {p: m[k] for p, k in keys.items() if k in m}
        ks = self._key_stats_df()
        pred = F.col("term_key").isin(list(keys.values()))
        if "term_bucket" in ks.columns:
            buckets = sorted(
                {_term_bucket_py(k, self.config.term_buckets) for k in keys.values()}
            )
            pred = F.col("term_bucket").isin(buckets) & pred
        rows = ks.filter(pred).select("term_key", "idf").collect()
        by_key = {int(r[0]): float(r[1]) for r in rows}
        return {p: by_key[k] for p, k in keys.items() if k in by_key}

    def ctf_for_keys(self, terms) -> dict:
        """{(stream, term): collection term frequency} for a query's keys —
        the Lucene totalTermFreq statistic, needed by LM similarities
        (plans/scoring.py). Aggregated per query from the postings table:
        plain `stream IN` and `term IN` column predicates (pushed down to
        the scan — no computed-column key) prune it to the query's terms,
        the agg returns ≤ |streams|·|terms| rows, and only the requested
        (stream, term) pairs are kept — a point lookup at any corpus size
        (the dictionary intentionally doesn't denormalize ctf; queries
        carrying it are rare)."""
        pairs = {(s, t) for s, t in terms}
        rows = (
            self.postings.filter(
                F.col("stream").isin(sorted({s for s, _ in pairs}))
                & F.col("term").isin(sorted({t for _, t in pairs}))
            )
            .groupBy("stream", "term")
            .agg(F.sum("tf").alias("ctf"))
            .collect()
        )
        return {
            (r["stream"], r["term"]): int(r["ctf"])
            for r in rows
            if (r["stream"], r["term"]) in pairs
        }

    def body_total_tokens(self) -> int:
        """Total body tokens (Lucene sumTotalTermFreq of the body field) —
        exactly rint(n_docs·avgdl), since avgdl was computed as the float64
        total/n (exact for corpora below 2^52 tokens)."""
        return int(round(self.n_docs * self.avgdl))

    # ---- soft deletes + fact sets -------------------------------------

    def delete_docs(self, doc_ids) -> None:
        """Soft-delete documents: they stop matching every query immediately
        (the kernel masks the tombstone set — the reference's "document
        active" row ANDed into every plan, Row.h:34-35). Epoch stats
        (df/idf/avgdl) stay frozen until the next compaction, which drops
        tombstoned docs physically (streaming/ingest.compact)."""
        self.tombstones = frozenset(self.tombstones) | {int(d) for d in doc_ids}

    def define_fact(self, name: str, predicate) -> None:
        """Register a named boolean per-document fact (IFactSet analogue):
        ``predicate`` is a Column over the corpus. Queries pass
        ``facts=[name, ...]`` to AND the fact sets into the match: the
        kernel cogroups them, semi-joined into doc_stats, as per-(shard,
        slice) allow rows (kernel._allow_rows)."""
        self.facts[name] = self.corpus.filter(predicate).select("doc_id")

    def define_fact_indexed(self, name: str, predicate) -> None:
        """Register a fact as an INDEXED filter stream: the fact's doc set
        becomes ordinary posting rows (stream="fact", term=name) unioned
        into the postings table and the built segment store, so queries
        AND it in-kernel exactly like a term — a pruned posting scan that
        reads only the fact's blocks of the groups the query touches, with
        no semi-join into doc_stats (define_fact's route). The reference's
        IFactSet is likewise just another row ANDed into the plan
        (inc/BitFunnel/IFactSet.h); here the row is a posting list.
        Queries can also name it directly as ``fact:<name>``."""
        if name in self.indexed_facts:
            raise ValueError(f"indexed fact {name!r} already defined")
        rows = (
            self.corpus.filter(predicate)
            .select("doc_id")
            .join(self.doc_stats, "doc_id")
            .select(
                F.lit(name).alias("term"),
                F.lit("fact").alias("stream"),
                "doc_id",
                F.lit(1).cast("int").alias("tf"),
                "doclen",
                "shard",
                "slice",
            )
        )
        self.indexed_facts[name] = rows
        self.postings = self.postings.unionByName(
            rows.select(*self.postings.columns)
        )
        if self.segments is not None:
            from bitfunnel_spark.operators.segments import build_segments

            self.segments = self.segments.unionByName(
                build_segments(rows, self.avgdl, self.config)
            )

    def _apply_indexed_facts(self, node, facts: list[str] | None):
        """(node', residual_facts): indexed facts become filter-context
        conjuncts (Filter(Term(stream="fact")) — non-scoring, prunable,
        evaluated in-kernel); define_fact facts pass through to the
        kernel's allow rows."""
        facts = list(facts) if facts else []
        idx_names = [f for f in facts if f in self.indexed_facts]
        rest = [f for f in facts if f not in self.indexed_facts]
        if idx_names:
            from bitfunnel_spark.plans.ast import And, Filter, Term

            node = And(
                (node, *(Filter(Term(text=f, stream="fact")) for f in idx_names))
            )
        return node, (rest or None)

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        config: BuildConfig | None = None,
        cache: bool = True,
        segments: bool = False,
    ) -> "FullTextIndex":
        config = config or BuildConfig()
        ds = stats.doc_stats(corpus, config)
        if cache:
            ds = ds.cache()
        p = stats.postings(corpus, config)
        if cache:
            p = p.cache()
        meta = stats.corpus_meta(ds)
        ts = stats.term_stats(p, meta["n_docs"], config)
        if cache:
            ts = ts.cache()
        idx = cls(
            spark=spark,
            config=config,
            corpus=corpus,
            doc_stats=ds,
            postings=p,
            term_stats=ts,
            n_docs=meta["n_docs"],
            avgdl=meta["avgdl"],
            max_doclen=meta["max_doclen"],
        )
        if segments:
            idx.build_segments(cache=cache)
        return idx

    @classmethod
    def build_fused(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        config: BuildConfig | None = None,
        cache: bool = True,
    ) -> "FullTextIndex":
        """The scale build: corpus → encoded segments in ONE shuffle
        (operators/segments.build_segments_fused); the term dictionary
        derives from block metadata. Row-form postings are left LAZY — they
        are only computed if a DataFrame-path query or analytics op asks
        for them (at 100 TB nobody materializes them; the segment store is
        the index)."""
        config = config or BuildConfig()
        ds = stats.doc_stats(corpus, config)
        if cache:
            ds = ds.cache()
        meta = stats.corpus_meta(ds)
        from bitfunnel_spark.operators.segments import build_segments_fused

        seg = build_segments_fused(corpus, meta["avgdl"], config)
        if cache:
            seg = seg.cache()
        ks = stats.key_stats_from_segments(seg, meta["n_docs"], config)
        if cache:
            ks = ks.cache()
        # string-keyed dictionary: lazily defined; the vocabulary pass only
        # runs if an analytics surface (df/idf by term text) is used
        ts = stats.term_stats_from_segments(seg, corpus, meta["n_docs"], config)
        return cls(
            spark=spark,
            config=config,
            corpus=corpus,
            doc_stats=ds,
            postings=stats.postings(corpus, config),  # lazy, uncached
            term_stats=ts,
            n_docs=meta["n_docs"],
            avgdl=meta["avgdl"],
            max_doclen=meta["max_doclen"],
            segments=seg,
            key_stats=ks,
        )

    def prepare_serve(self, partitions: int | None = None) -> DataFrame:
        """Serve-start optimization: re-cache the segment store hash-
        partitioned by (shard, slice) — exactly the kernel's group key — so
        EVERY query's ``groupBy(shard, slice).applyInPandas`` elides its
        exchange (verified on the executed plan: the query side becomes
        Filter → Sort → FlatMapGroupsInPandas straight over the cache scan,
        zero Exchange). One index-sized shuffle paid once when the serving
        session opens, instead of an all-to-all per query — on a cluster
        this removes the only network stage of the query path, leaving
        kernel tasks + a k-row-per-partition TakeOrdered collect.

        ``doc_stats`` is re-cached the same way — hash-partitioned by
        (shard, slice) into the SAME number of partitions — so a group's
        doc metadata sits in the partition that holds its segments, as the
        reference keeps each slice's DocTable inside its slice buffer
        (Slice.h). A doc-metadata restriction (an ES range filter, a
        ``(doc_id, shard, slice)`` scan of doc_stats) then cogroups with
        the segment groups with no exchange: a range-filtered request is
        one job and one stage (kernel.run_log). ``partitions`` defaults to
        ``spark.sql.shuffle.partitions``. The old, narrow doc_stats cache
        is kept: Spark keys caches by plan, so unpersisting it would also
        drop the doc_stats cache of any other index built over the same
        corpus and config, whose restricted requests would then
        re-tokenize the corpus.

        The reference's analogue is loading slices into per-shard memory
        buffers before serving (SimpleIndex startup); build pipelines and
        one-shot analytics skip this step.
        """
        if self.segments is None:
            self.build_segments()
        n = partitions or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        seg = self.segments
        self.segments, self.doc_stats = (
            df.repartition(n, "shard", "slice").cache() for df in (seg, self.doc_stats)
        )
        for df in (self.segments, self.doc_stats):
            df.count()  # materialize before dropping the old segment cache
        try:
            seg.unpersist()
        except Exception:
            pass
        return self.segments

    def build_segments(self, cache: bool = True) -> DataFrame:
        from bitfunnel_spark.operators.segments import build_segments

        seg = build_segments(self.postings, self.avgdl, self.config)
        if cache:
            seg = seg.cache()
        self.segments = seg
        self.segments_positional = False  # row-form encode carries no pos_vb
        return seg

    # ---- query API ----------------------------------------------------

    def set_synonyms(
        self, mapping: dict[str, list[str]] | None, mode: str = "expand"
    ) -> None:
        """Install (or clear, with None) a query-time synonym map over BODY
        terms: every plain body Term that is a key rewrites in
        prepare_query. The map is directed (key -> alternatives), applied
        before dictionary expansion; phrases and boosted terms keep their
        exact tokens. Two scoring semantics (plans/expand.apply_synonyms):

        - ``mode="expand"`` (default): OR of independently-scored terms
          (Lucene query-expansion shape).
        - ``mode="blend"``: Lucene SynonymQuery — the group matches like an
          OR but scores as ONE pseudo-term (summed tf, single saturation,
          blended idf = idf of the group's max df)."""
        if mode not in ("expand", "blend"):
            raise ValueError(f"unknown synonym mode {mode!r}")
        self.synonym_mode = mode
        if not mapping:
            self.synonyms = None
            return
        self.synonyms = {
            k.lower(): tuple(dict.fromkeys(s.lower() for s in v if s.lower() != k.lower()))
            for k, v in mapping.items()
        }

    def prepare_query(self, query):
        """Parse (if a string), apply query-time synonyms (set_synonyms),
        and resolve dictionary expansions (``dat*``, ``d?t*a``, ``/re/``,
        ``term~``) into a plain AST — plans/expand.py. Queries without
        synonyms or expansion operators pass through unchanged."""
        from bitfunnel_spark.plans import expand
        from bitfunnel_spark.plans.parser import parse_query

        node = parse_query(query) if isinstance(query, str) else query
        if self.synonyms:
            node = expand.apply_synonyms(
                node, self.synonyms, getattr(self, "synonym_mode", "expand")
            )
        if expand.has_expansions(node):
            node = expand.expand_query(self, node)
        return node

    def restricted(self, docs: DataFrame) -> "FullTextIndex":
        """A copy of the index whose every query ANDs in the doc-metadata
        restriction ``docs`` (DataFrame[doc_id], or doc_stats rows
        (doc_id, shard, slice) — ES range filters and post_filter,
        plans/dsl.py); the kernel cogroups it into per-(shard, slice)
        allow arrays (kernel.run_log). Segments are built on THIS
        index first, so a kernel run on the copy never encodes a throwaway
        segment store per request."""
        import dataclasses

        if self.segments is None:
            self.build_segments()
        out = dataclasses.replace(self)
        out._restrict_docs = docs
        return out

    def _prepared(self, query, facts: list[str] | None):
        """(node, residual_facts): prepare_query, then indexed facts folded
        in as filter conjuncts — the one query preparation of every query
        method."""
        return self._apply_indexed_facts(self.prepare_query(query), facts)

    def match(self, query, facts: list[str] | None = None) -> DataFrame:
        """Reference semantics: the full unscored boolean match set
        (ResultsBuffer analogue) as DataFrame[doc_id]. Fact sets
        (define_fact) reach the kernel as cogrouped allow rows; indexed
        facts as filter conjuncts of the query."""
        from bitfunnel_spark.plans.kernel import match_kernel

        return match_kernel(self, *self._prepared(query, facts))

    def scored_match(self, query, facts: list[str] | None = None) -> DataFrame:
        """The full match set with BM25 scores: DataFrame[(doc_id, score)],
        score rounded to 4 dp, no top-k cut — what serving layers that
        rescore every match read (function_score, collapse, aggregations).
        Facts as in ``match``."""
        from bitfunnel_spark.plans.kernel import score_kernel

        return score_kernel(self, *self._prepared(query, facts))

    def search(
        self, query, k: int = 10, mode: str = "kernel",
        facts: list[str] | None = None, similarity: str = "bm25",
    ) -> DataFrame:
        """Scored top-k: DataFrame[(doc_id, score)], score rounded to 4 dp,
        ordered (score desc, doc_id asc). ``facts`` ANDs named fact sets
        (define_fact) into the match. ``similarity`` swaps the query-time
        scoring flavor — "bm25" (default), "classic" (Lucene pre-7 TF-IDF),
        "boolean" (constant per matched term), "lm_dirichlet" (Lucene
        LMDirichletSimilarity, μ=2000, body field), "dot_tf" (sparse dot
        product: boost · tf — the sparse_vector query's scorer); see
        plans/scoring.py. The
        match set is identical under every flavor; non-BM25 flavors skip
        the BM25-shaped block-max pruning (exhaustive kernel path).
        ``mode`` accepts only "kernel", the one engine."""
        if mode != "kernel":
            raise ValueError(f"unknown mode {mode!r} (the kernel is the only engine)")
        from bitfunnel_spark.plans.kernel import search_kernel

        query, facts = self._prepared(query, facts)
        return search_kernel(self, query, k, facts, similarity=similarity)

    def search_after(
        self, query, after: tuple[float, int], k: int = 10,
        facts: list[str] | None = None,
    ) -> DataFrame:
        """Deep pagination (Elasticsearch search_after): the next k results
        strictly AFTER the cursor ``after=(score, doc_id)`` — the last row
        of the previous page — in the total (score desc, doc_id asc) order.
        Every page is a k-row job regardless of depth: no window over the
        full result set, no LIMIT that grows with the page number (the
        from+size anti-pattern). The ordering is total (rounded score,
        doc_id), so pages partition the full result exactly."""
        from bitfunnel_spark.plans.kernel import search_kernel

        query, facts = self._prepared(query, facts)
        return search_kernel(self, query, k, facts, after=after)

    def search_many(
        self, queries: list[str], k: int = 10, facts: list[str] | None = None
    ) -> DataFrame:
        """Batched query-log evaluation in one job:
        DataFrame[(query_id, doc_id, score)] — see plans/batch.py."""
        from bitfunnel_spark.plans.batch import search_many

        return search_many(self, queries, k, facts)
