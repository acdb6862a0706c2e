"""SparkSession factory with scale-aware defaults.

Local-mode defaults are sized from the host: all its CPUs and half its
physical RAM (SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM override them). The same
conf keys are what a 1000-executor deployment would tune — AQE on (runtime
coalesce + skew-join splitting), Arrow enabled for pandas conversions,
UTC session timezone pinned for DuckDB-oracle comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_mem() -> str:
    """Half the host's physical RAM, capped at 24g."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(24 << 10, ram_mb // 2)}m"


def get_spark(master: str | None = None, app: str = "rag_pdf_parser_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~cores in local mode; a cluster deployment would use 2-3× total cores
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = cpus if n == "*" else int(n)
    # AQE coalescing is BYTE-based; with parallelismFirst (default true)
    # the post-shuffle floor is minPartitionSize (1m default) — for
    # CPU-heavy narrow data (pair lists, gram folds) that still collapses
    # small stages to 1-2 tasks. Parameterised (guide §2.2/§9): local
    # default keeps byte-small stages spread; at warehouse scale
    # partitions are orders of magnitude above either value, so the knob
    # is inert there — set SPARK_GRAFT_MIN_PARTITION_SIZE=1m to restore
    # the Spark default.
    min_part = os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k")
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                min_part)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.warehouse.dir", "/tmp/rpps-warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
