"""SparkSession construction tuned for this engine.

Local-mode testing only in the sandbox; the same settings (AQE, Arrow,
shuffle partitions sized to parallelism) are what we'd set cluster-side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    override = os.environ.get("SPARK_LOCAL_DIRS")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        return d
    return "/tmp"


def get_spark(
    app_name: str = "bitfunnel_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # also the partition count FullTextIndex.prepare_serve lays the
        # segment store and doc_stats out in, both hash-partitioned by
        # (shard, slice), so a query's kernel groups and a range
        # restriction's doc_stats rows meet with no exchange. Hash
        # placement of few groups skews: on 4 vCPUs, 4 partitions put 32
        # (shard, slice) groups 8/15/4/5 and slowed the serve_batch
        # benchmark (ROADMAP item 1, "One task wave")
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: the driver JVM is the only executor — give it real memory
        # (32 task threads + Arrow buffers thrash a small heap into GC collapse)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # shuffle/spill dirs on tmpfs when available: local-mode shuffle to a
        # single spinning/virtual disk serializes all task threads behind one
        # device and flattens CPU scaling; a cluster has per-node NVMe. RAM-
        # backed local dirs make local-mode scaling measurements reflect the
        # engine, not the sandbox disk.
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # finer input splits: the build's map stage (tokenize + explode +
        # hash + shuffle write) is the heaviest CPU stage, and with the
        # 128 MB default a medium corpus yields ~1 split per 30-50k docs —
        # fewer tasks than slots leaves cores idle in the last wave (a 10-
        # task stage on 8 slots runs at 62% efficiency). 16 MB keeps map
        # waves balanced at every parallelism level; scan overhead per
        # split is negligible next to tokenization.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # Arrow batches sized so one (shard, slice, bucket) group crosses
        # the JVM→Python boundary in one batch instead of ~20 flushes of
        # the 10k default — measured ~1.8x on the fused build's segments
        # stage at 8 cores (per-flush ArrowWriter overhead, see BENCH.md).
        # The engine's kernel inputs are fixed-width ints (~24 B/row →
        # ~6 MB/batch); if you stream LARGE payload columns (multimodal
        # binary) through mapInPandas, lower this per-session.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(262144))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
