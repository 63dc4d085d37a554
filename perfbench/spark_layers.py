"""Spark-side probes: worker warm-up, the Arrow boundary alone, the
job's plan prefixes, the golden read-back and event-log task metrics."""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators.extraction import extract_turns


def noop(df: DataFrame) -> None:
    """Run the whole plan, keep nothing."""
    df.write.mode("overwrite").format("noop").save()


def _import_kernel(batches: Iterator[pa.RecordBatch]
                   ) -> Iterator[pa.RecordBatch]:
    import pdf_parser_spark.kernel.extract  # noqa: F401

    yield from batches


def warm_workers(spark, nproc: int) -> None:
    """One task per core, each importing the kernel in its worker."""
    noop(spark.range(nproc * 4, numPartitions=nproc)
         .mapInArrow(_import_kernel, "id long"))


def _boundary_batches(batches: Iterator[pa.RecordBatch]
                      ) -> Iterator[pa.RecordBatch]:
    """The extraction operator's per-row work minus the kernel: the same
    ``to_pylist`` and latin-1 encode, then one int per row back."""
    for batch in batches:
        sizes = []
        for raw in batch.column("text").to_pylist():
            try:
                data = raw.encode("latin-1") if raw is not None else b""
            except UnicodeEncodeError:
                data = b""
            sizes.append(len(data))
        yield pa.RecordBatch.from_arrays(
            [batch.column("conv_id"), batch.column("turn_idx"),
             pa.array(sizes, pa.int64())],
            names=["conv_id", "turn_idx", "bytes"])


def boundary(turns: DataFrame) -> DataFrame:
    return (turns.select("conv_id", "turn_idx", "text")
            .mapInArrow(_boundary_batches,
                        "conv_id string, turn_idx int, bytes long"))


def job_prefixes(job, turns: DataFrame, run_id: str
                 ) -> tuple[DataFrame, DataFrame]:
    """``ExtractionJob.run``'s plan up to its write, built from the job's
    public settings: (bucketed + anti-joined + salted, extracted)."""
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(job.n_buckets))
    todo = (turns.withColumn("bucket", bucket)
            .join(F.broadcast(job.completed_buckets()), "bucket",
                  "left_anti"))
    salted = todo.repartition(
        job.partitions, "bucket",
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(job.salt)))
    extracted = (extract_turns(salted.select("bucket", "conv_id",
                                             "turn_idx", "text"))
                 .withColumn("bucket", bucket)
                 .withColumn("run_id", F.lit(run_id)))
    return salted, extracted


def committed_rows(jobs) -> list[list[tuple[str, int, str, bool]]]:
    """Per job, (conv_id, turn_idx, md5 of text, has parse_error) of each
    committed row, as ``gate.wrong_turns`` takes them. One Spark job
    reads back every job's output."""
    df = reduce(DataFrame.unionAll, [
        job.read_output().select(
            F.lit(i).alias("job"), "conv_id", "turn_idx",
            F.md5(F.col("text")), F.col("parse_error").isNotNull())
        for i, job in enumerate(jobs)])
    rows: list[list[tuple[str, int, str, bool]]] = [[] for _ in jobs]
    for r in df.collect():
        rows[r[0]].append(tuple(r[1:]))
    return rows


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def task_metrics(log_dir: str, job_tag: str) -> dict[str, float]:
    """Sum the task metrics of every job tagged ``job_tag`` from the
    Spark event log in ``log_dir``."""
    stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    # Spark 4 writes rolling logs: a directory of events_* files beside
    # appstatus and checksum files
    logs = sorted(os.path.join(d, n) for d, _s, names in os.walk(log_dir)
                  for n in names if n.startswith(("events_", "local-")))
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get(
                        "spark.job.tags") or ""
                    if job_tag in tags.split(","):
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics")
                                  or {}))
    run_ms = cpu_ns = gc_ms = sw = sr = 0
    peak = 0
    for stage, tm in tasks:
        if stage not in stages:
            continue
        run_ms += tm.get("Executor Run Time", 0)
        cpu_ns += tm.get("Executor CPU Time", 0)
        gc_ms += tm.get("JVM GC Time", 0)
        peak = max(peak, tm.get("Peak Execution Memory", 0))
        sw += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        rd = tm.get("Shuffle Read Metrics") or {}
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    return {
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": sw / 1e6,
        "spark.shuffle_read_mb": sr / 1e6,
        "spark.peak_exec_mem_mb": peak / 1e6,
    }
