"""SparkSession factory tuned for the crawl engine.

Local-mode defaults: one JVM with one task thread per CPU this process
may run on (``SPARK_GRAFT_CPUS`` overrides); on a real cluster the same
builder is driven by spark-submit conf instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the machine's RAM, at most 48g: a driver heap allowed more
    than the machine holds grows in a long session until the kernel
    kills the JVM."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, total // 2**31))}g"


def get_spark(
    app_name: str = "crawlspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with crawl-engine defaults.

    AQE on (runtime coalesce + skew-join), Arrow on (all per-row logic is
    pandas-UDF), small Arrow batches so image ``bytes`` columns don't blow
    up a single Arrow batch (SURVEY.md §4.3.5).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism, not the 200 default — local shuffles are
        # driver-disk bound, excess partitions are pure scheduling overhead
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan split size (guide §6): the sandbox tables are single
        # small parquet files whose row groups otherwise land in one or
        # two 128 MB splits — a 6-million-row lineitem scan then runs on
        # 2 of 32 cores. 16 MB splits let the scan parallelize down to
        # row-group granularity. Scale-dependent knob, so env-overridable:
        # production corpora with many ≥128 MB files should run the
        # default-to-large split ("128m"–"1g" — fewer map tasks feeding
        # each shuffle, guide §2.2) via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # FAIR across pools: the engine files its background state-delta
        # writes under a separate pool so the round's critical-path jobs
        # (admission) interleave with them instead of queueing behind a
        # FIFO backlog of write tasks (the overlap is otherwise nominal)
        .config("spark.scheduler.mode", "FAIR")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
