"""SparkSession factory with the engine's scale-oriented defaults.

Single place to set shuffle sizing, AQE (runtime coalesce + skew-join
splitting), and Arrow batching for pandas UDFs.  The reference exposes one
partitioning knob (setNumPartitions, /root/reference/02_Initial_Workflow_Part_A.py:156);
we make every shuffle knob explicit here per the north rule.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local cores to use: $SPARK_GRAFT_CPUS, else the host's count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory() -> str:
    """Driver heap: $SPARK_DRIVER_MEMORY, else half the host's physical
    memory in whole GiB (at least 1g).  In local mode the driver JVM
    also runs every task, and the other half stays with the Python
    workers and the OS page cache."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "customer_er_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # In local[N] mode shuffle partitions should track cores, not the 200
    # default; on a real cluster this is sized to executors*cores (AQE
    # coalesces down when partitions run small).
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scan-parallelism floor — scale-ADAPTIVE by construction: Spark
        # sizes splits as min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/minPartitionNum)), so a scan always offers >= one
        # split per core when the bytes exist, while at warehouse scale
        # totalBytes/N >> maxPartitionBytes and the floor is inert (the
        # default 128 MB split governs, per guide §6).  openCostInBytes
        # drops from the 4 MB HDD-era default to 1 MB: local NVMe/page-
        # cache opens are cheap, and 4 MB was what pinned a 126 MB
        # 6-row-group lineitem scan to a handful of tasks.
        .config("spark.sql.files.minPartitionNum", str(n_shuffle))
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
        # the banded kernel self-joins on (band_key, salt) over input
        # already hash-partitioned by band_key; since Spark 3.3 the
        # co-partition check demands ALL join keys by default, which
        # inserted a second exchange per side AND defeated ReusedExchange
        # (the Python banding UDF ran twice).  Subset-key co-partitioning
        # is exactly the kernel's design (salt only subdivides a band
        # in-place), so restore the pre-3.3 rule.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # broadcast threshold: small dims (band stats, registry samples)
        # broadcast free; large sides shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
