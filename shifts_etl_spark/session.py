"""SparkSession factory.

Pinned UTC session timezone: the reference's ``datetime.fromtimestamp``
(reference etl/app/shift_data_processor.py:120) interprets epoch seconds in
the container's local TZ, which is UTC under docker — pinning UTC makes the
engine deterministic everywhere (SURVEY.md §7.4 pitfall #1).

The generated-code cache holds 2000 classes instead of Spark's 100: one
``/run-etl`` cycles through 122-139 classes, so the default LRU evicted
every class before its next use and each run recompiled ~90 of them.
Class names carry no stage id, so a rerun's classes match its last run's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "shifts_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local mode defaults; on a real cluster the same settings apply except
    master/memory come from the submitter. AQE is on so runtime statistics
    re-plan joins (broadcast conversion, skew splitting, partition coalesce)
    — the scale-out story for 100 TB relies on it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or max(int(cpus) * 2, 32))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static conf: measured working sets are 122-139 generated classes
        # per /run-etl and ~90 per headline pass; at the default 100 entries
        # a cyclic visit misses every time under LRU, so each warm run
        # recompiled ~90 classes (Janino was ~15% of JVM samples)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # AQE numbers codegen stages in the order its query stages finish,
        # and the number is part of the generated class name; leaving it out
        # lets a rerun whose stages finish in another order hit the cache
        .config("spark.sql.codegen.useIdInClassName", "false")
        # static conf: keep managed tables (bucketed layouts) out of the cwd
        .config("spark.sql.warehouse.dir", "/tmp/shifts_etl_spark_warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
