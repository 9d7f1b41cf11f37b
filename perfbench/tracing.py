"""Benchmark-side tracing.

Two sources, both read from outside the engine:

- ``Tracer``: spans around calls into the engine's public functions. The
  benchmark opens spans around its own calls, and ``patch_engine`` wraps a
  few functions the engine calls internally (parse, plan, dictionary
  lookup, kernel frame construction, DSL compile, the build's doc-stats
  job), so they nest under the request that caused them. Spans are kept in
  memory and written out once, at the end of the run.
- ``read_event_log``: Spark's own event log (written uncompressed), with
  every job attributed to the job group the benchmark set around the call
  that submitted it.
"""

from __future__ import annotations

import functools
import glob
import json
import statistics
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            "epoch_ms": time.time() * 1000.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["end_epoch_ms"] = time.time() * 1000.0
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_ms(self) -> list[tuple[dict, float]]:
        """(span, self time in ms): duration minus the children's durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        return [(s, (s["t1"] - s["t0"] - child[s["id"]]) * 1000.0) for s in self.spans]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# (module, attribute, span name) — the engine-internal calls the trace
# attributes. Class attributes are wrapped on the class.
WRAPPED = (
    ("bitfunnel_spark.index", "FullTextIndex.prepare_query", "plans.parser.parse"),
    ("bitfunnel_spark.index", "FullTextIndex.idf_for_keys", "index.idf_lookup"),
    ("bitfunnel_spark.plans.planner", "plan_query", "plans.planner.plan"),
    ("bitfunnel_spark.plans.kernel", "search_kernel", "plans.kernel.prepare"),
    ("bitfunnel_spark.plans.dsl", "compile_dsl", "plans.dsl.compile"),
    ("bitfunnel_spark.operators.statistics", "corpus_meta", "operators.statistics.doc_stats"),
)


def patch_engine(tracer: Tracer) -> None:
    """Wrap each WRAPPED function, and rebind every module-level alias of it
    in the engine's loaded modules (``from x import f`` copies the name)."""
    import importlib

    for mod_name, attr, span in WRAPPED:
        mod = importlib.import_module(mod_name)
        owner, _, fname = attr.rpartition(".")
        holder = getattr(mod, owner) if owner else mod
        orig = getattr(holder, fname)
        wrapped = tracer.wrap(span, orig)
        setattr(holder, fname, wrapped)
        if owner:
            continue
        for name, m in list(sys.modules.items()):
            if not name.startswith("bitfunnel_spark") or m is None:
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, wrapped)


# event-log task accumulables summed per job group: metric -> (name, scale)
TASK_SUMS = {
    "spark.task_run_ms": ("internal.metrics.executorRunTime", 1.0),
    "spark.task_cpu_ms": ("internal.metrics.executorCpuTime", 1e-6),
    "spark.gc_ms": ("internal.metrics.jvmGCTime", 1.0),
    "spark.shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1.0),
    "spark.shuffle_read_bytes": (
        ("internal.metrics.shuffle.read.localBytesRead",
         "internal.metrics.shuffle.read.remoteBytesRead"), 1.0),
    "spark.fetch_wait_ms": ("internal.metrics.shuffle.read.fetchWaitTime", 1.0),
    "spark.spill_bytes": (
        ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled"), 1.0),
    "python.init_ms": ("time to initialize Python workers", 1.0),
    "python.run_ms": ("time to run Python workers", 1.0),
    "arrow.bytes_to_python": ("data sent to Python workers", 1.0),
    "arrow.bytes_from_python": ("data returned from Python workers", 1.0),
}
GROUP_METRICS = ("spark.jobs", "spark.stages", "spark.tasks",
                 "spark.submit_to_first_task_ms", *TASK_SUMS)


def read_event_log(log_dir: str) -> dict:
    """{job_group: {metric: value}} plus the job submission times, from the
    uncompressed event log(s) under ``log_dir``."""
    jobs, stage_job, launch, stages_run = {}, {}, {}, set()
    groups: dict[str, dict] = {}
    task_rows = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "submit": e["Submission Time"],
                    }
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerStageSubmitted":
                    stages_run.add(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskStart":
                    j = stage_job.get(e["Stage ID"])
                    t = e["Task Info"]["Launch Time"]
                    if j is not None:
                        launch[j] = min(launch.get(j, t), t)
                elif kind == "SparkListenerTaskEnd":
                    acc = {a["Name"]: a.get("Update") for a in e["Task Info"].get("Accumulables", [])}
                    task_rows.append((stage_job.get(e["Stage ID"]), acc))
    for j, info in jobs.items():
        g = groups.setdefault(info["group"], {m: 0.0 for m in GROUP_METRICS})
        g["spark.jobs"] += 1
        if j in launch:
            g["spark.submit_to_first_task_ms"] += launch[j] - info["submit"]
    for s, j in stage_job.items():
        if s in stages_run and j in jobs:
            groups[jobs[j]["group"]]["spark.stages"] += 1
    for j, acc in task_rows:
        if j not in jobs:
            continue
        g = groups[jobs[j]["group"]]
        g["spark.tasks"] += 1
        for metric, (names, scale) in TASK_SUMS.items():
            for n in (names if isinstance(names, tuple) else (names,)):
                v = acc.get(n)
                if v is not None:
                    g[metric] += float(v) * scale
    submits = sorted(info["submit"] for info in jobs.values())
    return {"groups": groups, "submits": submits}


def median_over(groups: dict, prefix: str) -> dict:
    """Per-request medians of each group metric over the groups whose name
    starts with ``prefix`` (one group per request); zeros when none ran."""
    rows = [g for name, g in groups.items() if name.startswith(prefix)]
    return {m: (statistics.median(r[m] for r in rows) if rows else 0.0) for m in GROUP_METRICS}
