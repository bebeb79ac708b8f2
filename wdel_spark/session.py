"""SparkSession factory with scale-aware defaults.

Local sandbox = ``local[N]`` (one JVM); the same config block is what we'd
ship via ``spark-submit --py-files`` on a real cluster — AQE (runtime
re-plan + skew-join splitting + partition coalescing) and Arrow are the
load-bearing settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_BLAS_VARS = (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS",
)


def get_spark(
    app_name: str = "wdel_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get(
        "SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    shuffle_partitions = shuffle_partitions or cores
    # one BLAS thread per python worker: N workers × multi-threaded
    # OpenBLAS oversubscribes the box N× and *reverses* core scaling —
    # parallelism comes from Spark tasks, not intra-op math threads
    for var in _BLAS_VARS:
        os.environ.setdefault(var, "1")
    # spark.local.dir on plain disk, NOT tmpfs.  Round 1 moved shuffle to
    # /dev/shm to dodge block-device throttling; round-2 A/B measurement
    # showed tmpfs local dirs AMPLIFY task CPU ~7x at local[32] (kernel
    # shmem allocation contention billed to task threads: identical 1M-doc
    # job 485 s/10334 CPU-s on /dev/shm vs 119 s/1565 CPU-s on /tmp).  On
    # a real cluster this is NVMe-backed local dirs either way.
    local_dir = os.environ.get("WDEL_SPARK_LOCAL_DIR", "/tmp/wdel-spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m sizes reduce-side partitions for byte-cheap JVM work;
        # our reduce stages feed python kernels where 64 MB is minutes of
        # compute — coalescing to ~1 wave of fat tasks kills core scaling
        # (measured 8m -> ~1.5x e2e at local[32] on the 1M-doc ER job)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scan-parallelism FLOOR, not a size: small single-file inputs
        # (the sandbox's one-row-group parquet tables) otherwise scan as
        # a single task; large inputs already exceed the floor so this is
        # scale-neutral (guide §6 "minPartitionNum sets a floor on scan
        # parallelism")
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 48g default (r4): at local[8] on the 1M-doc corpus a 24g heap
        # spent 107 s in GC inside the normalize/pin stages; 48g measured
        # total GC 8.7 s and -26% executor CPU on the same run
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # zstd halves shuffle bytes vs lz4 — the sandbox block device
        # throttles sustained IO, so shuffle bytes are wall-clock
        .config("spark.io.compression.codec", "zstd")
        # off-heap Tungsten memory (r6, guide §5 + r5 VERDICT lever #2):
        # execution buffers move out of the GC-scanned heap.  Interleaved
        # A/B on the 1M-doc stored-corpus job at local[8] (pool records
        # in scaling_runs_r6.jsonl): base 37.4/41.0 s walls, 173.7/186.2
        # executor-cpu-s vs off-heap 32.1/29.8 s, 149.4/136.1 cpu-s —
        # -20% wall / -22% CPU on the min, consistent across both reps.
        # (The same A/B measured -XX:+UseStringDeduplication a LOSS:
        # 41.6/51.4 s.)  Scale-neutral by construction; size via env for
        # other memory budgets.
        .config("spark.ui.enabled", "false")
        # Spark's generated-class cache holds 100 entries by default, but
        # one stored-corpus ER run (run_er_from_parquet) generates 115
        # distinct classes, the flagship 99, and the contract query mix
        # plus an ER run about 380 in one session: at 100 every warm rerun
        # of the ER job evicted and Janino-recompiled 87-101 classes (and
        # the JIT then compiled those fresh classes again).  1000 keeps
        # them: a warm rerun compiles none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    offheap = os.environ.get("WDEL_SPARK_OFFHEAP", "8g")
    if offheap != "0":
        b = (b.config("spark.memory.offHeap.enabled", "true")
              .config("spark.memory.offHeap.size", offheap))
    for var in _BLAS_VARS:
        b = b.config(f"spark.executorEnv.{var}", "1")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
