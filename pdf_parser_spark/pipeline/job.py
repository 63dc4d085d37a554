"""Checkpointed extraction job: salted partitioning + lineage + resume.

north_rule requirements implemented here:
- partition by conv_id hash with explicit salting for skewed long
  conversations (bucket = pmod(xxhash64(conv_id), n_buckets); salt =
  pmod(xxhash64(conv_id, turn_idx), salt))
- per-partition lineage rows: (run_id, snapshot_id, bucket, turn_count,
  bytes, parse_failures, completed_at)
- idempotent resume: the completed lineage buckets are collected to
  the driver (at most n_buckets values) and filtered out of the input
  — a rerun processes only missing buckets, by construction producing
  no duplicates (SURVEY.md §4.2)
- df.observe() metrics: one-pass counts without a second scan

Output is partitioned by run_id only; bucket is a stored data column.
Each attempt mints its own run_id (a uuid4), so no two attempts share
one. Atomicity comes from the lineage row, not the directory layout: a
bucket's rows count only once a lineage row carries their
(bucket, run_id) pair, so a retried or killed attempt either commits
the whole bucket or leaves it to be reprocessed. The commit is ONE
lineage parquet file per attempt, written by the driver under a
hidden name (Spark and pyarrow skip names starting with ".") and
renamed into lineage_dir after the data files land: the rename is
the commit, as a Delta Lake log record is. At cluster scale the same
protocol maps to an Iceberg partition spec of (run_id) and a
snapshot commit (SCALE.md "Iceberg").
An output directory written with the older (run_id, bucket) layout
cannot be read together with new runs (Spark raises
CONFLICTING_PARTITION_COLUMN_NAMES); point the job at a fresh one.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.extraction import EXTRACT_SCHEMA, extract_turns

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("snapshot_id", T.StringType()),
    T.StructField("bucket", T.LongType()),
    T.StructField("turn_count", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("parse_failures", T.LongType()),
    T.StructField("completed_at", T.TimestampType()),
])
# completed_at -> timestamp[us, tz=UTC], which Spark reads back as a
# timestamp next to the INT96 files older Spark-written commits hold
_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)

# what the output directory reads back as: the extraction columns, the
# stored bucket column and the run_id partition column. Explicit
# schemas spare each read a schema-inference job.
OUTPUT_SCHEMA = T.StructType(EXTRACT_SCHEMA.fields + [
    T.StructField("bucket", T.LongType()),
    T.StructField("run_id", T.StringType()),
])


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
        if not os.path.isdir(self.lineage_dir):
            # optimizes to an empty LocalRelation: collecting it runs no
            # job (range(0) and createDataFrame([]) each run one)
            return (self.spark.range(1).select(F.col("id").alias("bucket"))
                    .limit(0))
        return self._lineage().select("bucket").distinct()

    def _lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            self.lineage_dir)

    # -------------------------------------------------------------- run

    def run(self, turns: DataFrame, snapshot_id: str = "static") -> dict:
        """Extract all not-yet-completed buckets; returns metrics,
        including the attempt's ``run_id``.

        The commit is one lineage file per attempt, renamed into
        lineage_dir once the data files have landed; an attempt that
        commits no bucket writes none."""
        run_id = uuid.uuid4().hex
        todo = turns.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)))
        done = [r.bucket for r in self.completed_buckets().collect()]
        if done:
            todo = todo.filter(~F.col("bucket").isin(done))

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
        # (file pruning), not a data filter. At most n_buckets rows
        # come back to the driver. A run that wrote no rows commits
        # nothing and skips the read-back.
        if metrics["turns"]:
            written = self._output().filter(F.col("run_id") == run_id)
            buckets = written.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("turn_count"),
                F.sum("bytes").alias("bytes"),
                F.sum(F.when(F.col("parse_error").isNotNull(), 1)
                      .otherwise(0)).alias("parse_failures")).collect()
            self._commit(buckets, run_id, snapshot_id)

        metrics["run_id"] = run_id
        return metrics

    def _commit(self, buckets: list, run_id: str, snapshot_id: str) -> None:
        """Write this attempt's lineage rows as one parquet file under a
        hidden name, then rename it into lineage_dir: readers see all of
        the attempt's buckets or none of them."""
        now = datetime.now(timezone.utc)
        table = pa.Table.from_pylist(
            [{**r.asDict(), "run_id": run_id, "snapshot_id": snapshot_id,
              "completed_at": now} for r in buckets],
            schema=_LINEAGE_ARROW)
        os.makedirs(self.lineage_dir, exist_ok=True)
        name = f"lineage-{run_id}.parquet"
        tmp = os.path.join(self.lineage_dir, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.lineage_dir, name))

    def _output(self) -> DataFrame:
        return self.spark.read.schema(OUTPUT_SCHEMA).parquet(self.output_dir)

    def read_output(self) -> DataFrame:
        """Committed rows only: semi-join against lineage (bucket,
        run_id) — orphaned writes from crashed runs are invisible."""
        out = self._output()
        if not os.path.isdir(self.lineage_dir):
            return out.limit(0)
        committed = self._lineage().select("bucket", "run_id").distinct()
        return out.join(F.broadcast(committed), ["bucket", "run_id"],
                        "left_semi")
