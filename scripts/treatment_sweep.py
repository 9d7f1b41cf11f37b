"""Empirical treatment-threshold sweep (round-3 item 8, TreatmentOptimal).

For each candidate (rare_df_frac, dense_df_frac) pair: fused-build the sf
corpus, prepare_serve, then measure (best-of-3) the bench query set single
+ batched, and the pruning battery's decode counters at block_size=16.
Prints one JSON line per combo; paste the table into BENCH.md and set
BuildConfig defaults from the winner (the analytic side is
operators/treatments.treatment_grid — this script is its validation).

Usage: python scripts/treatment_sweep.py [sf_dir] [cores]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bitfunnel_spark import BuildConfig, FullTextIndex  # noqa: E402
from bitfunnel_spark.session import get_spark  # noqa: E402
from bitfunnel_spark.sources.corpus import corpus_from_documents, load_documents  # noqa: E402

QUERIES = [
    "data fast", "spark join group", "vector dup", "dup | vector",
    "data -slow", "(dup | vector) join -merge", "lang:en data",
    "the a data", "dup the", "dup | the | a",
]

# (rare_df_frac, dense_df_frac): current defaults, analytic winner (dense
# 2%), all-vb, all-raw-ish, gap32-heavy
COMBOS = [
    (0.001, 0.25),   # shipped defaults
    (0.001, 0.02),   # analytic winner: everything common -> gap32
    (0.06, 0.02),    # + rare band catches df<=6% -> raw
    (0.0, float("inf")),  # all-vb (treatment off)
    (0.001, 0.10),
]
if os.environ.get("SWEEP_COMBOS"):
    import json as _json
    COMBOS = [tuple(c) for c in _json.loads(os.environ["SWEEP_COMBOS"])]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("tsweep", cores=cores, shuffle_partitions=cores)
    corpus = corpus_from_documents(load_documents(spark, sf_dir)).repartition(cores).cache()
    corpus.count()

    # JIT warm-up, untimed
    warm_cfg = BuildConfig(n_slices=max(4, cores // 4), positions=True)
    warm = FullTextIndex.build_fused(spark, corpus.filter(F.col("doc_id") < 2000), warm_cfg)
    warm.segments.count(); warm.key_stats.count()
    warm.search("data", k=10).collect()
    for df in (warm.doc_stats, warm.key_stats, warm.segments):
        df.unpersist()

    for rare, dense in COMBOS:
        cfg = BuildConfig(
            n_slices=max(4, cores // 4), positions=True, block_size=16,
            rare_df_frac=rare, dense_df_frac=dense,
        )
        builds = []
        idx = None
        for _ in range(3):
            if idx is not None:
                for df in (idx.doc_stats, idx.key_stats, idx.segments):
                    df.unpersist()
            t0 = time.time()
            idx = FullTextIndex.build_fused(spark, corpus, cfg)
            idx.segments.count(); idx.key_stats.count()
            builds.append(time.time() - t0)
        idx.prepare_serve()
        idx.search("data", k=10).collect()
        # encoding mix of the built store
        mix = {
            r["enc"]: r["cnt"]
            for r in idx.segments.groupBy("enc").agg(F.count("*").alias("cnt")).collect()
        }
        sizes = idx.segments.agg(
            F.sum(F.length("docs_vb")).alias("doc_bytes")
        ).collect()[0]
        batch = float("inf")
        for _ in range(3):
            tb = time.time()
            idx.search_many(QUERIES, k=10).collect()
            batch = min(batch, time.time() - tb)
        from bitfunnel_spark.plans.profile import profile_many

        tprof = time.time()
        metrics, _ = profile_many(idx, QUERIES, k=5)
        prow = metrics.groupBy().agg(
            F.sum("blocks_total").alias("bt"), F.sum("blocks_decoded").alias("bd"),
            F.sum("kernel_ms").alias("kms"),
        ).collect()[0]
        prof_sec = time.time() - tprof
        print(json.dumps({
            "rare": rare, "dense": dense if dense != float("inf") else "inf",
            "build_sec": round(min(builds), 3),
            "enc_mix": mix,
            "doc_bytes": int(sizes["doc_bytes"]),
            "batch_sec": round(batch, 3),
            "kernel_ms_sum": round(float(prow["kms"] or 0), 1),
            "blocks": [int(prow["bt"] or 0), int(prow["bd"] or 0)],
            "profile_sec": round(prof_sec, 3),
        }))
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
