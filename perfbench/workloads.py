"""The benchmark's workloads: set-up, one closed-loop client, the gate.

Both workloads share one set-up, which is the engine's serve path from a
cold session: generate the corpus, start Spark, load it through
``load_documents`` + ``corpus_from_documents``, ``build_fused`` (segments
and ``key_stats`` materialised), ``write_segments`` to local disk,
``prepare_serve``, load the driver idf map, warm up. They differ in the
timed loop:

- ``serve_interactive``: one client, one request at a time. Two of every
  three requests are kernel query strings (``FullTextIndex.search(q, k=10,
  mode="kernel")``) over the band/shape mix; the third is a range-filtered
  bool body through ``plans.dsl.search_dsl``. Every request pays the whole
  per-query path, so the Spark job floor dominates.
- ``serve_batch``: one client alternating ``search_many`` (top-10) and
  ``plans.batch.match_many`` (percolate) over one whole head-heavy,
  term-sharing query log: the job floor is amortised over the log.

Each workload reports a *primary* and a *secondary* request kind:

=================  ==========================  ===========================
workload           primary (``primary_ms``)    secondary (``secondary_ms``)
=================  ==========================  ===========================
serve_interactive  kernel query string         range-filtered DSL body
serve_batch        search_many, per query      match_many, per query
=================  ==========================  ===========================
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

import gen
import tracing

WORKLOADS = ("serve_interactive", "serve_batch")
SERVE_DOCS = 5_000
K = 10
INTERACTIVE_MIX = {"head": 0.35, "mid": 0.35, "tail": 0.30}
BATCH_MIX = {"head": 0.6, "mid": 0.3, "tail": 0.1}
DSL_EVERY = 3  # every 3rd interactive request is a filtered DSL body
LOG_SIZE = 150
BATCH_POOL = 40  # words per band a batch log draws from (term sharing)
# untimed requests per kind before the window: the first calls of each
# kind run slower (codegen, JIT, Python worker start-up)
WARM_UP = {"serve_interactive": {"primary": 3, "secondary": 2},
           "serve_batch": {"primary": 1, "secondary": 1}}
GATE_SAMPLE = {"serve_interactive": 3, "serve_batch": 2}
DRIVER_MEMORY = "3g"

SETUP_LAYERS = (
    "session.start_ms", "sources.load_ms", "operators.statistics.doc_stats_ms",
    "operators.segments.encode_ms", "operators.statistics.key_stats_ms",
    "operators.segments.write_ms", "index.prepare_serve_ms", "index.idf_map_load_ms",
)
# request layers: medians over primary requests, or over secondary requests
# for layers only those use (plans.dsl.*)
REQUEST_LAYERS = (
    "index.search_ms", "plans.parser.parse_ms", "plans.planner.plan_ms",
    "index.idf_lookup_ms", "plans.kernel.prepare_ms", "plans.kernel.collect_ms",
    "plans.dsl.compile_ms", "plans.dsl.search_ms", "plans.dsl.collect_ms",
    "plans.batch.prepare_ms", "plans.batch.collect_ms",
)
COUNTERS = ("operators.segments.n_blocks", "index.n_keys",
            "operators.segments.bytes_written", "operators.segments.files_written",
            "plans.batch.percolate_rows", "index.idf_lookup_jobs")
WAND_GROUPS = ("head", "mid", "tail", "or")
WAND = tuple(f"plans.wand.{m}.{g}" for m in ("blocks_total", "blocks_decoded", "skip_ratio")
             for g in WAND_GROUPS)
SPARK_KINDS = ("primary", "secondary", "build")
SPARK = tuple(f"{m}.{kind}" for m in tracing.GROUP_METRICS for kind in SPARK_KINDS)
PER_LAYER = (SETUP_LAYERS + REQUEST_LAYERS + COUNTERS + WAND + SPARK
             + ("trace.unattributed_share", "trace.overhead"))


def cpu_calibration_ms() -> float:
    """Median time of a fixed pure-Python loop: how fast this machine ran
    around the run (shared hosts drift by tens of percent)."""
    times = []
    for _ in range(7):
        t = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i
        times.append(1000.0 * (time.perf_counter() - t))
    return statistics.median(times)


def settings(work: str, trace: bool) -> dict:
    """The fixed run settings, applied before Spark starts and recorded."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return {
        "cores": len(os.sched_getaffinity(0)),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONHASHSEED": "0",
        "conf": conf,
        "build_config": "BuildConfig(positions=True)",
        "serve_docs": SERVE_DOCS,
        "warm_up": WARM_UP,
        "statistic": "medians over the timed window, never best-of-N",
    }


# ---------------------------------------------------------------- processes

def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) of the JVM and its Python workers."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def start_spark(st: dict):
    os.environ["SPARK_DRIVER_MEMORY"] = st["SPARK_DRIVER_MEMORY"]
    os.environ["SPARK_LOCAL_DIRS"] = st["SPARK_LOCAL_DIRS"]
    os.environ["PYTHONHASHSEED"] = st["PYTHONHASHSEED"]  # Python workers
    from bitfunnel_spark.session import get_spark

    return get_spark("perfbench", cores=st["cores"], extra_conf=st["conf"])


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = descendants(os.getpid())
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -------------------------------------------------------------------- run

class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.base = os.path.join(root, ".perfbench_work")
        self.work = os.path.join(self.base, f"{workload}-{seed}-{os.getpid()}")
        self.tracer = tracing.Tracer()
        self.tracer.enabled = trace
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.primary: list[tuple] = []  # (latency_s, n_queries, traced, payload)
        self.secondary: list[tuple] = []

    # ---- set-up

    def setup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "docs", "eventlog"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.settings = settings(self.work, self.trace)
        self.calibration = [cpu_calibration_ms()]
        t0 = time.perf_counter()
        self.corpus = gen.make_corpus(self.seed, SERVE_DOCS)
        self.docs_path = os.path.join(self.work, "docs", "documents.parquet")
        gen.write_documents(self.corpus, self.docs_path)
        self._make_requests()
        sp = self.tracer.span
        with sp("session.start"):
            self.spark = start_spark(self.settings)
        self.sc = self.spark.sparkContext
        from bitfunnel_spark import BuildConfig, FullTextIndex
        from bitfunnel_spark.operators.segments import write_segments
        from bitfunnel_spark.sources.corpus import corpus_from_documents, load_documents
        import bitfunnel_spark.plans.batch  # noqa: F401  (patched below)
        import bitfunnel_spark.plans.dsl  # noqa: F401
        import bitfunnel_spark.plans.kernel  # noqa: F401
        import bitfunnel_spark.plans.profile  # noqa: F401

        if self.trace:
            tracing.patch_engine(self.tracer)
        self.config = BuildConfig(positions=True)
        with sp("setup"):
            self.sc.setJobGroup("pb.setup", "load")
            docs = corpus_from_documents(
                load_documents(self.spark, os.path.dirname(self.docs_path))).cache()
            with sp("sources.load"):
                docs.count()
            self.sc.setJobGroup("pb.build", "build_fused")
            t = time.perf_counter()
            with sp("index.build_fused"):
                idx = FullTextIndex.build_fused(self.spark, docs, self.config)
            with sp("operators.segments.encode"):
                self.n_blocks = idx.segments.count()
            with sp("operators.statistics.key_stats"):
                self.n_keys = idx.key_stats.count()
            self.build_s = time.perf_counter() - t
            self.sc.setJobGroup("pb.setup", "write")
            seg_dir = os.path.join(self.work, "segments")
            with sp("operators.segments.write"):
                write_segments(idx.segments, seg_dir)
            self.seg_bytes, self.seg_files = _parquet_bytes(seg_dir)
            self.sc.setJobGroup("pb.setup", "prepare")
            with sp("index.prepare_serve"):
                idx.prepare_serve()
            with sp("index.idf_map_load"):
                idx.idf_map()
            self.idx = idx
            self.sc.setJobGroup("pb.warmup", "warm-up")
            for kind, n in WARM_UP[self.workload].items():
                for _ in range(n):
                    self._request(kind, record=False)
        self.setup_s = time.perf_counter() - t0

    def _make_requests(self) -> None:
        c, s = self.corpus, self.seed
        if self.workload == "serve_interactive":
            self.queries = gen.make_queries(c, s, 400, INTERACTIVE_MIX, stream=0)
            self.bodies = gen.make_bodies(c, s, 100)
            self.requested = self.queries
        else:
            # the timed log, and a spare one for the warm-up
            self.logs = [gen.make_queries(c, s, LOG_SIZE, BATCH_MIX, stream=10 + i,
                                          pool_cap=BATCH_POOL) for i in range(2)]
            self.requested = self.logs[0]
        self.next = {"primary": 0, "secondary": 0}

    # ---- requests

    def _request(self, kind: str, record: bool = True, traced: bool = True) -> None:
        """One request of ``kind``; the warm-up calls (``record=False``)
        come first and use inputs no timed request uses."""
        i = self.next[kind]
        self.next[kind] += 1
        group = f"pb.{kind}.{i}" if record else "pb.warmup"
        self.sc.setJobGroup(group, kind)
        was = self.tracer.enabled
        self.tracer.enabled = was and traced
        try:
            t = time.perf_counter()
            with self.tracer.span(f"request.{kind}", group=group):
                payload, n = self._run_one(kind, i)
            lat = time.perf_counter() - t
        except Exception as e:  # a failed request is counted, the loop goes on
            if not record:
                raise
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.errors.append(f"{kind} {i}: {e!r}"[:300])
            return
        finally:
            self.tracer.enabled = was
        if record:
            self.attempted += 1
            (self.primary if kind == "primary" else self.secondary).append(
                (lat, n, was and traced, payload))

    def _run_one(self, kind: str, i: int):
        sp = self.tracer.span
        if self.workload == "serve_interactive":
            if kind == "primary":
                q = self.queries[i]
                with sp("index.search"):
                    df = self.idx.search(q.text, k=K, mode="kernel")
                with sp("plans.kernel.collect"):
                    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
                return (q.text, rows), 1
            from bitfunnel_spark.plans import dsl

            body = self.bodies[i]
            with sp("plans.dsl.search"):
                df = dsl.search_dsl(self.idx, body)
            with sp("plans.dsl.collect"):
                rows = [(r["doc_id"], r["score"]) for r in df.collect()]
            return (body, rows), 1
        from bitfunnel_spark.plans import batch

        li = 1 if i < WARM_UP[self.workload][kind] else 0
        log = [q.text for q in self.logs[li]]
        with sp("plans.batch.prepare"):
            if kind == "primary":
                df = batch.search_many(self.idx, log, K)
            else:
                df = batch.match_many(self.idx, log)
        with sp("plans.batch.collect"):
            pdf = df.toPandas()
        return (li, pdf), len(log)

    def measure(self) -> None:
        """Closed loop, one client, for ``seconds``, ending on a whole cycle
        of the request pattern. Interactive: 2 kernel queries then one DSL
        body; batch: search_many then match_many. In a traced run every
        other primary request runs with the spans off, to measure their
        overhead."""
        self.sc.setJobGroup("pb.measure", "measure")
        pattern = (["primary"] * (DSL_EVERY - 1) + ["secondary"]
                   if self.workload == "serve_interactive" else ["primary", "secondary"])
        t0 = time.perf_counter()
        n = 0
        while True:
            kind = pattern[n % len(pattern)]
            traced = kind == "secondary" or len(self.primary) % 2 == 0
            self._request(kind, traced=traced)
            n += 1
            if n % len(pattern) == 0 and time.perf_counter() - t0 >= self.seconds:
                break
        self.window_s = time.perf_counter() - t0
        self.rss_mb = peak_rss_mb(descendants(os.getpid()))
        self.calibration.append(cpu_calibration_ms())

    # ---- correctness gate (outside the timed window)

    def gate(self) -> None:
        import duckdb
        from bitfunnel_spark.plans.dsl import compile_dsl
        from bitfunnel_spark.plans.oracle import oracle_match_sql, oracle_search_sql

        self.sc.setJobGroup("pb.gate", "gate")
        con = duckdb.connect()
        con.execute(f"SET threads TO {self.settings['cores']}")
        con.execute(f"SET temp_directory = '{self.work}/tmp'")
        con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{self.docs_path}')")
        rng = np.random.Generator(np.random.PCG64([self.seed, 4]))
        s = GATE_SAMPLE[self.workload]
        checks = []
        if self.workload == "serve_interactive":
            for j in rng.choice(len(self.primary), min(s, len(self.primary)), replace=False):
                text, rows = self.primary[j][3]
                checks.append((text, rows, con.execute(
                    oracle_search_sql(text, k=K, config=self.config)).fetchall()))
            body, rows = self.secondary[int(rng.integers(len(self.secondary)))][3]
            must = body["query"]["bool"]["must"][0]
            rng_ = body["query"]["bool"]["filter"][0]["range"]["doclen"]
            where = (f"h.doc_id IN (SELECT doc_id FROM dl WHERE doclen >= {rng_['gte']}"
                     f" AND doclen <= {rng_['lte']})")
            checks.append((body, rows, con.execute(oracle_search_sql(
                compile_dsl(must), k=K, config=self.config, extra_where=where)).fetchall()))
        else:
            top = self.primary[0][3][1]
            match = self.secondary[0][3][1]
            log = [q.text for q in self.logs[0]]
            for qid in rng.choice(len(log), min(s, len(log)), replace=False):
                qid = int(qid)
                sub = top[top["query_id"] == qid].sort_values(
                    ["score", "doc_id"], ascending=[False, True])
                rows = list(zip(sub["doc_id"].tolist(), sub["score"].tolist()))
                oracle = con.execute(
                    oracle_search_sql(log[qid], k=K, config=self.config)).fetchall()
                kernel = [(r["doc_id"], r["score"]) for r in
                          self.idx.search(log[qid], k=K, mode="kernel").collect()]
                checks.append((log[qid], rows, oracle))
                checks.append((f"kernel {log[qid]}", rows, kernel))
                got = sorted(match.loc[match["query_id"] == qid, "doc_id"].tolist())
                want = [r[0] for r in con.execute(oracle_match_sql(log[qid], self.config)).fetchall()]
                checks.append((f"match {log[qid]}", got, want))
        con.close()
        bad = [(q, g, w) for q, g, w in checks if _norm(g) != _norm(w)]
        for q, g, w in bad:
            print(f"MISMATCH {q!r}: got {g[:10]} want {w[:10]}", file=sys.stderr)
        self.checked, self.mismatched = len(checks), len(bad)
        self.failed += len(bad)

    # ---- results

    def end_to_end(self) -> dict:
        ms = lambda xs: statistics.median(1000.0 * lat / n for lat, n, *_ in xs)  # noqa: E731
        answered = sum(n for _, n, *_ in self.primary + self.secondary)
        return {
            "setup_s": (self.setup_s, "s"),
            "index_bytes_per_input_byte": (
                self.seg_bytes / self.corpus.stats()["text_bytes"], "B/B"),
            "primary_ms": (ms(self.primary), "ms"),
            "secondary_ms": (ms(self.secondary), "ms"),
            "queries_per_s": (answered / self.window_s, "1/s"),
            "peak_rss_mb": (self.rss_mb, "MB"),
        }

    def report(self) -> dict:
        """Every metric the workload defines by name, with the run's inputs
        and settings; printed before the result line."""
        e2e = self.end_to_end()
        lat = lambda xs, p: float(np.percentile([1000.0 * x[0] for x in xs], p))  # noqa: E731
        named = {"setup_s": e2e["setup_s"],
                 "build_docs_per_s": (self.corpus.n_docs / self.build_s, "1/s"),
                 "index_bytes_per_input_byte": e2e["index_bytes_per_input_byte"],
                 "peak_rss_mb": e2e["peak_rss_mb"]}
        if self.workload == "serve_interactive":
            named["search_p50_ms"] = (lat(self.primary, 50), "ms")
            named["search_p90_ms"] = (lat(self.primary, 90), "ms")
            named["filtered_p50_ms"] = (lat(self.secondary, 50), "ms")
        else:
            qps = lambda xs: sum(n for _, n, *_ in xs) / sum(x[0] for x in xs)  # noqa: E731
            named["batch_qps"] = (qps(self.primary), "1/s")
            named["percolate_qps"] = (qps(self.secondary), "1/s")
        named["failed_ratio"] = (self.failed / max(1, self.attempted), "ratio")
        return {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "settings": self.settings,
            "inputs": {
                "corpus": self.corpus.stats(),
                "requests": gen.shares(self.requested),
                "digest": gen.digest(_file_sha(self.docs_path),
                                     [q.text for q in self.requested]),
            },
            "samples": {"primary": len(self.primary), "secondary": len(self.secondary),
                        "gate_checks": self.checked},
            "latencies_ms": {k: [round(1000.0 * x[0], 1) for x in xs] for k, xs in
                             (("primary", self.primary), ("secondary", self.secondary))},
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "cpu_calibration_ms": [round(x, 2) for x in self.calibration],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "errors": self.errors[:5],
        }

    # ---- traced run

    def profile_counters(self) -> dict:
        """Block counters per band from ``plans.profile.profile_many`` over a
        fixed seeded log: AND queries per band, and OR queries."""
        from bitfunnel_spark.plans.profile import profile_many
        from pyspark.sql import functions as F

        groups, texts = [], []
        for gi, g in enumerate(WAND_GROUPS):
            mix = {g: 1.0} if g != "or" else INTERACTIVE_MIX
            want = "and" if g != "or" else "or"
            qs = [q.text for q in gen.make_queries(self.corpus, self.seed, 40, mix,
                                                   stream=20 + gi) if q.shape == want]
            texts += qs
            groups += [g] * len(qs)
        self.sc.setJobGroup("pb.profile", "profile")
        metrics, _ = profile_many(self.idx, texts, k=K)
        rows = metrics.groupBy("query_id").agg(
            F.sum("blocks_total").alias("t"), F.sum("blocks_decoded").alias("d")).collect()
        out = {}
        for g in WAND_GROUPS:
            t = sum(r["t"] for r in rows if groups[r["query_id"]] == g)
            d = sum(r["d"] for r in rows if groups[r["query_id"]] == g)
            out[f"plans.wand.blocks_total.{g}"] = float(t)
            out[f"plans.wand.blocks_decoded.{g}"] = float(d)
            out[f"plans.wand.skip_ratio.{g}"] = 1.0 - d / t if t else 0.0
        return out

    def per_layer(self, events: dict, wand: dict) -> dict:
        spans = self.tracer.self_ms()
        root = {}
        for s, _ in spans:
            root[s["id"]] = s["id"] if s["parent"] is None else root[s["parent"]]
        by_root: dict[int, dict[str, float]] = {}
        for s, self_ms in spans:
            layers = by_root.setdefault(root[s["id"]], {})
            layers[s["name"]] = layers.get(s["name"], 0.0) + self_ms
        kinds = {k: [s["id"] for s, _ in spans
                     if s["parent"] is None and s["name"] == f"request.{k}"]
                 for k in ("primary", "secondary")}
        out = {name: 0.0 for name in SETUP_LAYERS}
        for s, _ in spans:  # set-up layers: whole durations, not self time
            if f"{s['name']}_ms" in out and self.tracer.spans[root[s["id"]]]["name"] in (
                    "setup", "session.start"):
                out[f"{s['name']}_ms"] += 1000.0 * (s["t1"] - s["t0"])
        for name in REQUEST_LAYERS:
            layer = name[:-3]
            for k in ("primary", "secondary"):
                vals = [by_root[r][layer] for r in kinds[k] if layer in by_root[r]]
                if vals:
                    out[name] = statistics.median(vals)
                    break
            else:
                out[name] = 0.0
        # jobs submitted while a primary request's dictionary lookup ran
        lookups = [s for s, _ in spans if s["name"] == "index.idf_lookup"
                   and self.tracer.spans[root[s["id"]]]["name"] == "request.primary"]
        jobs = [sum(1 for t in events["submits"] if s["epoch_ms"] <= t <= s["end_epoch_ms"])
                for s in lookups]
        pr = self.secondary[0][3][1] if self.workload == "serve_batch" else None
        out.update({
            "operators.segments.n_blocks": float(self.n_blocks),
            "index.n_keys": float(self.n_keys),
            "operators.segments.bytes_written": float(self.seg_bytes),
            "operators.segments.files_written": float(self.seg_files),
            "plans.batch.percolate_rows": float(len(pr)) if pr is not None else 0.0,
            "index.idf_lookup_jobs": float(statistics.median(jobs)) if jobs else 0.0,
        })
        out.update(wand)
        groups = events["groups"]
        for kind in SPARK_KINDS:
            vals = (groups.get("pb.build") or {m: 0.0 for m in tracing.GROUP_METRICS}
                    if kind == "build" else tracing.median_over(groups, f"pb.{kind}."))
            for m in tracing.GROUP_METRICS:
                out[f"{m}.{kind}"] = float(vals[m])
        wall = sum(self.tracer.spans[r]["t1"] - self.tracer.spans[r]["t0"]
                   for r in kinds["primary"])
        own = sum(by_root[r]["request.primary"] for r in kinds["primary"]) / 1000.0
        out["trace.unattributed_share"] = own / wall if wall else 0.0
        on = [x[0] for x in self.primary if x[2]]
        off = [x[0] for x in self.primary if not x[2]]
        out["trace.overhead"] = (statistics.median(on) / statistics.median(off)
                                 if on and off else 1.0)
        return {k: out[k] for k in PER_LAYER}


def _parquet_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def _file_sha(path: str) -> str:
    import hashlib

    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _norm(rows) -> list:
    return [tuple(round(float(x), 4) if isinstance(x, float) else int(x) for x in r)
            if isinstance(r, (tuple, list)) else int(r) for r in rows]


def run(root: str, workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """(report, result). The result's metrics are the end-to-end metrics,
    or with ``trace`` the per-layer metrics."""
    r = Run(root, workload, seed, seconds, trace)
    spark = None
    try:
        r.setup()
        spark = r.spark
        r.measure()
        r.gate()
        wand = r.profile_counters() if trace else None
        stop_spark(spark)
        spark = None
        if trace:
            events = tracing.read_event_log(os.path.join(r.work, "eventlog"))
            metrics = r.per_layer(events, wand)
            os.makedirs(os.path.join(r.base, "traces"), exist_ok=True)
            r.tracer.dump(os.path.join(r.base, "traces", f"{workload}-{seed}.jsonl"))
            metrics = {m: (v, _unit(m)) for m, v in metrics.items()}
        else:
            metrics = r.end_to_end()
        report = r.report()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(r.work, ignore_errors=True)
    result = {
        "correct": r.mismatched == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def _unit(metric: str) -> str:
    if metric.endswith("_ms") or "_ms." in metric:
        return "ms"
    if "bytes" in metric:
        return "B"
    if metric.startswith("trace.") or "skip_ratio" in metric:
        return "ratio"
    return "count"
