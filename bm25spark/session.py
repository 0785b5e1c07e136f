"""SparkSession factory with scale-oriented defaults.

Tests and the bench run on ``local[N]`` but every setting here is the
one we'd ship to a 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), Arrow on (all Python crossings are
Arrow-batched), and a shuffle-partition count that is explicitly
overridden per-job by the build pipeline based on data volume.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else every CPU of this host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _default_driver_mem() -> str:
    """``BM25SPARK_DRIVER_MEM``, else the smaller of 16g and half the
    host's physical memory. In local mode the driver JVM hosts every
    executor thread, so its heap is the whole storage+execution pool:
    8g forced the tokenized-corpus cache to evict mid-build at the
    bench's escalated scale, and 16g stays comfortable on a large host
    without exceeding a small one (real clusters size executor heaps
    themselves)."""
    env = os.environ.get("BM25SPARK_DRIVER_MEM")
    if env:
        return env
    phys_mib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    return f"{min(16 << 10, phys_mib // 2)}m"


def get_spark(
    app: str = "bm25spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or _default_cores()
    shuffle_partitions = shuffle_partitions or max(32, cores)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # v2 commit: tasks move their own output files on commit
        # instead of the driver renaming every file serially at job
        # end — that serial section is a per-job constant that caps
        # scaling (same wall time at 2 and at 1000 executors)
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
