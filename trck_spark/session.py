"""SparkSession helper with engine-appropriate defaults."""

from __future__ import annotations

import os


def get_spark(app_name: str = "trck_spark", shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as int64
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # measured on the 160M-event store counter (round 4): the
        # vectorized first-level hash map + 4x parquet reader batches
        # cut scan+agg ~20% (0.53 -> 0.42 s median); both are safe
        # analytics defaults (memory cost: one 16k-row batch per
        # reader, one small per-task hash vector)
        .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
        .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
        # single-JVM local mode: driver heap IS executor memory.  The
        # LIBRARY default stays 16g so the session starts on modest
        # hosts / memory-cgroup-limited containers; set
        # SPARK_DRIVER_MEM for larger heaps (32 concurrent window sorts
        # over 160M events OOMed 16g nondeterministically)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # ContextCleaner only forces a GC every 30min by default; a
        # long benchmarking/ETL session churning big window sorts
        # accumulates unreclaimed shuffle/broadcast state for the whole
        # interval and later queries degrade 3-4x.  1min keeps cleanup
        # bounded (no-op when idle).
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.parquet.filterPushdown", "true")
        # trust the (uuid, ts, seq) sort order of TrailStore bucketed scans
        # so trail windows elide both Exchange and Sort (see store.py)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
