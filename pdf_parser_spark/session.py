"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Turn rows carry whole PDFs (fat rows), so the default 10k-row Arrow
# batches would balloon Python-worker memory (SURVEY.md §4.2 "Arrow
# batch shaping").
ARROW_BATCH_ROWS = 256


def get_spark(app_name: str = "pdf_parser_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build a local SparkSession.

    - ``spark.sql.shuffle.partitions`` ~ cores (not the 200 default).
    - AQE on: runtime coalescing + skew-join splitting.
    - Arrow batches capped at ``ARROW_BATCH_ROWS``.
    - UTC session TZ so DuckDB oracle comparisons are stable.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # iterative operators (duplicate_components) checkpoint every
        # round; without the cleaner, reliable-checkpoint files for
        # superseded rounds accumulate on HDFS/object store for the
        # life of the app (~max_iter full copies of the frame)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints",
                "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
