"""SparkSession helper with the configuration this library is designed for.

Tuned for the build→merge pipeline (SURVEY.md §4.2): AQE on, Arrow transfer
on with large batches (the kernels are O(batch) vectorized, so bigger batches
amortize the JVM↔Python crossing), shuffle partitions sized to cores. On a
real cluster the same settings apply per-executor; nothing here is
local-mode-specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "cms_topn_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # This sandbox has very slow first-touch page faults (~50µs/page), and
    # glibc mmap/munmaps every numpy temp > 128 kB, so each large temporary
    # re-faults from scratch (measured 4-20s per 350 MB temp). Keeping big
    # allocations in the malloc arena makes Python workers fault once and
    # reuse pages across Arrow batches/tasks. Exported before the JVM forks
    # so every pyspark.daemon worker inherits it.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    # make the package importable in python workers regardless of the
    # driver's cwd (workers inherit env, not the driver's sys.path)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Bound Arrow batches by BYTES too (Spark 4 knob): rows carrying
        # ~kB array payloads (gram sets, signatures, embeddings) otherwise
        # cross JVM->Python as one 40 MB+ batch per task, so the whole
        # transfer serializes before the kernel's first row and the task
        # slot idles half the time; 16 MB batches pipeline the boundary
        # with kernel compute. Narrow-row kernels still get their full
        # 65536-row batches (they sit well under the cap). Probe-gated
        # same-session A/B over the 17 kernel-heavy headline queries:
        # 37.2 s -> 33.2 s (minhash verify -29 %, simhash -32 %), worst
        # regression +0.2 s (IVF re-rank's batch-local top-k prunes a
        # little less per batch). Size-based, so it needs no retuning at
        # cluster scale.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16777216")
        .config("spark.sql.parquet.filterPushdown", "true")
        # finer scan splits: ~3 tasks/core on the bench inputs, so one
        # straggler partition can't serialize a whole wave (AQE coalesces
        # tiny ones back together)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
