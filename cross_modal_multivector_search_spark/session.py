"""SparkSession factory with the engine's recommended configuration.

Tuned for correctness-at-scale defaults: AQE on (runtime skew/shuffle
re-planning), Arrow on (vectorized Python boundary), sane shuffle
partition count for local testing (the 100 TB deployment overrides
``spark.sql.shuffle.partitions`` / relies on AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cross-modal-multivector-search-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # default to the CPUs this process may run on, not a fixed count:
    # more task slots than cores only adds scheduler thrash
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    # Tasks are the parallelism unit: with `cpus` concurrent Python
    # workers each running BLAS GEMMs, unpinned OpenBLAS/OMP spawns
    # cpus x cpus threads (measured: multi-x wall-time inflation from
    # scheduler thrash). Pin workers to 1 BLAS thread; respect an
    # explicit user override.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Runtime re-planning: coalesce small shuffles, split skewed ones.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing targets BYTES per partition, but this engine's
        # post-shuffle stages are often CPU-bound Python/GEMM kernels
        # (mapInPandas scoring, beam search) where 1 MB of grouped
        # vectors is hundreds of ms of compute: the 1m default collapsed
        # those stages to ONE task (r15 stage metrics; e.g. the chamfer
        # batch-GEMM scorer ran 406 ms single-task on a 32-core box).
        # 64k keeps small-but-expensive shuffles parallel; at production
        # shuffle sizes partitions are far above either bound, so this
        # only changes the small-input regime. Overridable for
        # deployments via SPARK_GRAFT_AQE_MIN_PARTITION.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
        # Arrow for every Python<->JVM boundary (pandas UDFs, mapInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Vector payloads are wide; keep broadcast threshold generous so
        # dim-table joins (set mappings, GT, candidate lists) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # The single-index handle is O(index) on the driver BY DESIGN
        # (it is searched from one memory); a 10M x 64 float64 matrix
        # is ~5 GB through the Arrow collect path, over the 1g default.
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT", "16g"))
        # bench.py counts per-query job-group ids from the status store;
        # the 1000-job default can evict a long pass's early groups
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS",
                os.environ["OPENBLAS_NUM_THREADS"])
        .config("spark.executorEnv.OMP_NUM_THREADS",
                os.environ["OMP_NUM_THREADS"])
    )
    # escape hatch for probes/deployments: semicolon-separated k=v list
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
