"""Checkpointed extraction job: salted partitioning + lineage + resume.

north_rule requirements implemented here:
- partition by conv_id hash with explicit salting for skewed long
  conversations (bucket = pmod(xxhash64(conv_id), n_buckets); salt =
  pmod(xxhash64(conv_id, turn_idx), salt))
- per-partition lineage rows: (run_id, snapshot_id, bucket, turn_count,
  bytes, parse_failures, completed_at)
- idempotent resume: input buckets anti-joined against completed lineage
  buckets — a rerun processes only missing buckets, by construction
  producing no duplicates (SURVEY.md §4.2)
- df.observe() metrics: one-pass counts without a second scan

Output is partitioned by run_id only; bucket is a stored data column.
Atomicity comes from the lineage row, not the directory layout: a
bucket's rows count only once a lineage row carries their
(bucket, run_id) pair, so a retried or killed attempt either commits
the whole bucket or leaves it to be reprocessed. At cluster scale the
same code runs unchanged with an Iceberg partition spec of (run_id).
An output directory written with the older (run_id, bucket) layout
cannot be read together with new runs (Spark raises
CONFLICTING_PARTITION_COLUMN_NAMES); point the job at a fresh one.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extraction import extract_turns

LINEAGE_COLS = ["run_id", "snapshot_id", "bucket", "turn_count", "bytes",
                "parse_failures", "completed_at"]


class ExtractionJob:
    def __init__(self, spark: SparkSession, output_dir: str,
                 lineage_dir: str, n_buckets: int = 64, salt: int = 4,
                 partitions: int | None = None):
        self.spark = spark
        self.output_dir = output_dir
        self.lineage_dir = lineage_dir
        self.n_buckets = n_buckets
        self.salt = salt
        self.partitions = partitions or max(
            spark.sparkContext.defaultParallelism, 8)

    # ------------------------------------------------------------ state

    def completed_buckets(self) -> DataFrame:
        """Buckets already durably extracted (lineage present)."""
        spark = self.spark
        if not os.path.isdir(self.lineage_dir):
            return spark.createDataFrame([], "bucket long")
        try:
            return (spark.read.parquet(self.lineage_dir)
                    .select("bucket").distinct())
        except Exception:
            return spark.createDataFrame([], "bucket long")

    # -------------------------------------------------------------- run

    def run(self, turns: DataFrame, run_id: str | None = None,
            snapshot_id: str = "static") -> dict:
        """Extract all not-yet-completed buckets; returns metrics.

        ``run_id`` must be unique PER ATTEMPT (leave it None for a
        uuid). The crash-safety contract hangs on it: a killed
        attempt's orphaned parquet rows stay invisible only because
        no lineage row ever carries their (bucket, run_id) pair —
        reusing an id across attempts would both resurrect orphans in
        read_output() and fold them into this run's read-back lineage
        counts (measured in scripts/scale_rehearsal.py's kill test)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        bucketed = turns.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)))

        done = self.completed_buckets()
        todo = bucketed.join(F.broadcast(done), "bucket", "left_anti")

        # skew-safe spread: bucket + per-turn salt; turns are independent
        # so splitting a conversation across tasks is safe
        salted = todo.repartition(
            self.partitions, "bucket",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(self.salt)))

        extracted = (
            extract_turns(salted)
            .withColumn("bucket",
                        F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)))
            .withColumn("run_id", F.lit(run_id))
        )

        obs = Observation("extract")
        observed = extracted.observe(
            obs,
            F.count(F.lit(1)).alias("turns"),
            F.coalesce(F.sum("bytes"), F.lit(0)).alias("bytes"),
            F.coalesce(
                F.sum(F.when(F.col("parse_error").isNotNull(), 1)
                      .otherwise(0)), F.lit(0)).alias("failures"),
        )

        # run_id is the ONLY partition column: each run lands in its
        # own directory, so the lineage read-back below partition-prunes
        # to this run's files instead of rescanning every historical
        # run's output (at 10^12 turns that rescan is the whole corpus).
        # bucket stays a data column: no reader prunes on it, and
        # partitioning on it would write one file per (task, bucket)
        # pair instead of one per task.
        (observed.write.mode("append").partitionBy("run_id")
         .parquet(self.output_dir))
        metrics = dict(obs.get)

        # lineage derived from the DURABLY WRITTEN rows of THIS run
        # (read-back), so a crash between write and lineage leaves the
        # bucket uncommitted -> it reprocesses on resume, and the
        # orphaned output rows stay invisible because read_output()
        # semi-joins on lineage-committed (bucket, run_id) pairs.
        # run_id == partition column -> the filter is a PartitionFilter
        # (file pruning), not a data filter.
        written = (self.spark.read.parquet(self.output_dir)
                   .filter(F.col("run_id") == run_id))
        lineage = (written.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.sum("bytes").alias("bytes"),
            F.sum(F.when(F.col("parse_error").isNotNull(), 1).otherwise(0))
             .alias("parse_failures"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("snapshot_id", F.lit(snapshot_id))
            .withColumn("completed_at", F.current_timestamp())
            .select(*LINEAGE_COLS))
        lineage.write.mode("append").parquet(self.lineage_dir)

        metrics["run_id"] = run_id
        return metrics

    def read_output(self) -> DataFrame:
        """Committed rows only: semi-join against lineage (bucket,
        run_id) — orphaned writes from crashed runs are invisible."""
        out = self.spark.read.parquet(self.output_dir)
        if not os.path.isdir(self.lineage_dir):
            return out.limit(0)
        committed = (self.spark.read.parquet(self.lineage_dir)
                     .select("bucket", "run_id").distinct())
        return out.join(F.broadcast(committed), ["bucket", "run_id"],
                        "left_semi")
