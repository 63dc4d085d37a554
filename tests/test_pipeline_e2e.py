"""Pipeline e2e (SURVEY.md §5.2.4): synthesize a turns table, run the
salted mapInArrow extraction, join to goldens on (conv_id, turn_idx)
and assert 100% per-turn text equality; then prove idempotent resume
(partial run -> rerun -> complete output, no duplicates)."""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators.extraction import extract_turns
from pdf_parser_spark.pipeline.job import ExtractionJob
from pdf_parser_spark.sources.turns import (
    golden_turns, n_turns_for, synthetic_turns,
)

N_CONVS = 60


def test_turns_shape(spark):
    turns = synthetic_turns(spark, N_CONVS)
    expected = sum(n_turns_for(i) for i in range(N_CONVS))
    assert turns.count() == expected
    assert [f.name for f in turns.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # turn_idx contiguous per conversation (stable ordering invariant)
    per_conv = (turns.groupBy("conv_id")
                .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"))
                .filter(F.col("mx") != F.col("n") - 1))
    assert per_conv.count() == 0


def test_extraction_matches_goldens(spark):
    """north_rule correctness gate: per-turn text equality vs the
    fixture goldens under stable (conv_id, turn_idx) ordering."""
    turns = synthetic_turns(spark, N_CONVS)
    out = extract_turns(turns)
    gold = golden_turns(spark, N_CONVS)
    joined = (out.alias("o")
              .join(gold.alias("g"), ["conv_id", "turn_idx"], "full_outer")
              .select("conv_id", "turn_idx",
                      F.col("o.text").alias("got"),
                      F.col("g.text").alias("want"),
                      F.col("o.parse_error").alias("err"),
                      F.col("o.n_pages").alias("got_pages"),
                      F.col("g.n_pages").alias("want_pages")))
    total = joined.count()
    assert total == gold.count()  # no missing/extra rows
    mismatch = joined.filter(
        (F.col("got") != F.col("want"))
        | F.col("got").isNull() | F.col("want").isNull()
        | (F.col("got_pages") != F.col("want_pages"))
        | F.col("err").isNotNull())
    rows = mismatch.limit(5).collect()
    assert not rows, f"{mismatch.count()}/{total} mismatches, e.g. {rows}"


def test_extraction_broken_rows_recorded(spark):
    """Malformed PDFs produce parse_error rows; the job never aborts."""
    turns = synthetic_turns(spark, 30, broken_every=3)
    out = extract_turns(turns).cache()
    n_err = out.filter(F.col("parse_error").isNotNull()).count()
    assert n_err > 0
    assert out.count() == turns.count()
    out.unpersist()


def test_job_resume_idempotent(spark, tmp_path):
    """Kill-after-partial -> rerun -> no dupes (SURVEY.md §5.2.4)."""
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")
    turns = synthetic_turns(spark, N_CONVS).cache()
    total = turns.count()
    job = ExtractionJob(spark, out_dir, lin_dir, n_buckets=16, salt=2,
                        partitions=8)

    # partial run: only conversations hashing into half the buckets
    half = turns.withColumn(
        "b", F.pmod(F.xxhash64("conv_id"), F.lit(16))).filter("b < 8").drop("b")
    m1 = job.run(half)
    assert m1["turns"] > 0
    done_after_1 = {r.bucket for r in job.completed_buckets().collect()}
    assert 0 < len(done_after_1) <= 8

    # resume with the FULL input: only missing buckets are processed
    m2 = job.run(turns)
    assert m1["turns"] + m2["turns"] == total

    final = job.read_output()
    assert final.count() == total
    dupes = (final.groupBy("conv_id", "turn_idx").count()
             .filter("count > 1"))
    assert dupes.count() == 0

    # a third run is a no-op (all buckets committed)
    m3 = job.run(turns)
    assert m3["turns"] == 0
    assert job.read_output().count() == total
    assert m1["failures"] == 0 and m2["failures"] == 0
    turns.unpersist()


def test_lineage_readback_prunes_to_run(spark, tmp_path):
    """run_id is the only partition column: the lineage read-back for
    one run must partition-prune to that run's directory, not rescan
    every historical run's output, and each run writes at most one
    file per write task (bucket is a stored column, not a directory)."""
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")
    turns = synthetic_turns(spark, N_CONVS)
    job = ExtractionJob(spark, out_dir, lin_dir, n_buckets=16, salt=2,
                        partitions=8)
    half = turns.withColumn(
        "b", F.pmod(F.xxhash64("conv_id"), F.lit(16))).filter("b < 8").drop("b")
    r1 = job.run(half)["run_id"]
    r2 = job.run(turns)["run_id"]

    # on-disk layout: one subdirectory per run, no bucket= below it,
    # at most one parquet file per write task
    subdirs = {d for d in os.listdir(out_dir) if d.startswith("run_id=")}
    assert subdirs == {f"run_id={r1}", f"run_id={r2}"}
    for d in subdirs:
        entries = os.listdir(os.path.join(out_dir, d))
        assert not [e for e in entries if e.startswith("bucket=")], d
        n_files = sum(e.endswith(".parquet") for e in entries)
        assert 0 < n_files <= job.partitions, (d, n_files)

    # bucket reads back as long, the type lineage and
    # completed_buckets() carry
    def bucket_type(df):
        return df.schema["bucket"].dataType.simpleString()
    assert bucket_type(job.read_output()) == "bigint"
    assert bucket_type(spark.read.parquet(lin_dir)) == "bigint"
    assert bucket_type(job.completed_buckets()) == "bigint"
    assert bucket_type(ExtractionJob(
        spark, str(tmp_path / "none"), str(tmp_path / "none_lin"))
        .completed_buckets()) == "bigint"

    # the exact read-back frame job.run builds: filter must appear as a
    # PartitionFilter (file pruning), never a post-scan data filter
    written = (spark.read.parquet(out_dir)
               .filter(F.col("run_id") == r1))
    plan = written._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    start = plan.index("PartitionFilters")
    assert "run_id" in plan[start:start + 200]


def test_killed_attempt_rows_stay_invisible(spark, tmp_path):
    """A kill between the durable write and the lineage commit leaves
    orphaned rows on disk; with no lineage row carrying their
    (bucket, run_id) pair they never surface, and the next run
    reprocesses their buckets exactly once."""
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")
    turns = synthetic_turns(spark, N_CONVS).cache()
    job = ExtractionJob(spark, out_dir, lin_dir, n_buckets=16, salt=2,
                        partitions=8)
    half = turns.withColumn(
        "b", F.pmod(F.xxhash64("conv_id"), F.lit(16))).filter("b < 8").drop("b")
    dead = job.run(half)
    assert dead["turns"] > 0
    shutil.rmtree(lin_dir)      # the lineage commit never happened
    assert job.completed_buckets().count() == 0

    job.run(turns)
    final = job.read_output()
    assert final.filter(F.col("run_id") == dead["run_id"]).count() == 0
    keys = final.groupBy("conv_id", "turn_idx").count()
    assert keys.filter("count != 1").count() == 0
    assert keys.count() == turns.count()
    assert (turns.select("conv_id", "turn_idx")
            .exceptAll(final.select("conv_id", "turn_idx")).count() == 0)
    # the orphans are still on disk: invisibility comes from lineage
    assert os.path.isdir(os.path.join(out_dir, f"run_id={dead['run_id']}"))
    turns.unpersist()


def test_attempt_ids_are_minted_per_run(spark, tmp_path):
    """The attempt id is the job's, not the caller's: run() takes no
    run_id, and two attempts over the same buckets, the first killed
    before its commit, get different ids, so the killed attempt's rows
    never surface and every key is committed exactly once."""
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")
    turns = synthetic_turns(spark, N_CONVS).cache()
    job = ExtractionJob(spark, out_dir, lin_dir, n_buckets=16, salt=2,
                        partitions=8)
    with pytest.raises(TypeError):
        job.run(turns, run_id="x")

    first = job.run(_half(turns))
    assert first["turns"] > 0
    shutil.rmtree(lin_dir)      # killed before the lineage commit
    second = job.run(turns)
    assert second["turns"] == turns.count()
    assert first["run_id"] != second["run_id"]
    for m in (first, second):
        assert re.fullmatch("[0-9a-f]{32}", m["run_id"]), m["run_id"]

    keys = job.read_output().groupBy("conv_id", "turn_idx").count()
    assert keys.filter("count != 1").count() == 0
    assert keys.count() == turns.count()
    turns.unpersist()


def _half(turns, n_buckets=16):
    """The conversations that hash into the lower half of the buckets."""
    b = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
    return turns.filter(b < n_buckets // 2)


def _spark_jobs(spark, group, fn):
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_spark_job_count(spark, tmp_path):
    """The fixed cost of a run is its Spark jobs: the write (shuffle and
    write), the read-back aggregate (shuffle and collect) and, on a
    resume, the done-set collect (shuffle and collect). No schema
    inference, no broadcast of the done set, no Spark write of
    lineage."""
    turns = synthetic_turns(spark, N_CONVS).cache()
    turns.count()
    job = ExtractionJob(spark, str(tmp_path / "out"),
                        str(tmp_path / "lineage"), n_buckets=16, salt=2,
                        partitions=8)
    fresh = _spark_jobs(spark, "fresh", lambda: job.run(_half(turns)))
    resume = _spark_jobs(spark, "resume", lambda: job.run(turns))
    noop = _spark_jobs(spark, "noop", lambda: job.run(turns))
    assert fresh <= 4 and resume <= 6 and noop <= 4, (fresh, resume, noop)
    assert job.read_output().count() == turns.count()
    turns.unpersist()


def _lineage_files(lin_dir):
    return sorted(f for f in os.listdir(lin_dir) if f.endswith(".parquet")
                  and not f.startswith((".", "_")))


def test_kill_before_lineage_rename_stays_invisible(spark, tmp_path):
    """A kill between the data write and the lineage rename leaves the
    attempt's rows on disk and its lineage only as a hidden temp file:
    readers skip that file, so nothing is committed, none of the rows
    surface, and the next run commits every key exactly once."""
    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")
    turns = synthetic_turns(spark, N_CONVS).cache()
    job = ExtractionJob(spark, out_dir, lin_dir, n_buckets=16, salt=2,
                        partitions=8)
    dead = job.run(_half(turns))
    assert dead["turns"] > 0
    [committed] = _lineage_files(lin_dir)
    assert committed == f"lineage-{dead['run_id']}.parquet"
    os.replace(os.path.join(lin_dir, committed),
               os.path.join(lin_dir, "." + committed))

    assert job.completed_buckets().count() == 0
    assert job.read_output().count() == 0
    assert os.path.isdir(os.path.join(out_dir, f"run_id={dead['run_id']}"))

    job.run(turns)
    final = job.read_output()
    assert final.filter(F.col("run_id") == dead["run_id"]).count() == 0
    keys = final.groupBy("conv_id", "turn_idx").count()
    assert keys.filter("count != 1").count() == 0
    assert keys.count() == turns.count()
    turns.unpersist()


def test_spark_and_pyarrow_lineage_files_read_together(spark, tmp_path):
    """A lineage directory may hold commits of both formats: files the
    Spark writer appended (INT96 completed_at, a _SUCCESS marker) and
    the driver's pyarrow files (INT64 microsecond timestamps). Every
    reader sees both, with bucket as bigint."""
    import pyarrow.parquet as pq

    from pdf_parser_spark.pipeline.job import LINEAGE_SCHEMA

    out_dir = str(tmp_path / "out")
    lin_dir = str(tmp_path / "lineage")
    turns = synthetic_turns(spark, N_CONVS).cache()
    job = ExtractionJob(spark, out_dir, lin_dir, n_buckets=16, salt=2,
                        partitions=8)
    r1 = job.run(_half(turns))["run_id"]

    # rewrite the first commit as the Spark writer stores it
    [first] = _lineage_files(lin_dir)
    rows = pq.read_table(os.path.join(lin_dir, first)).to_pylist()
    os.remove(os.path.join(lin_dir, first))
    spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(lin_dir)
    [spark_file] = _lineage_files(lin_dir)
    meta = pq.ParquetFile(os.path.join(lin_dir, spark_file)).schema
    assert meta.column(LINEAGE_SCHEMA.fieldNames().index(
        "completed_at")).physical_type == "INT96"

    r2 = job.run(turns)["run_id"]
    assert len(_lineage_files(lin_dir)) == 2

    def bucket_type(df):
        return df.schema["bucket"].dataType.simpleString()
    want = {r.b for r in turns.select(
        F.pmod(F.xxhash64("conv_id"), F.lit(16)).alias("b")).collect()}
    done = job.completed_buckets()
    assert bucket_type(done) == "bigint"
    assert {r.bucket for r in done.collect()} == want

    final = job.read_output()
    assert bucket_type(final) == "bigint"
    keys = final.groupBy("conv_id", "turn_idx").count()
    assert keys.filter("count != 1").count() == 0
    assert keys.count() == turns.count()

    lineage = spark.read.parquet(lin_dir)
    assert bucket_type(lineage) == "bigint"
    assert lineage.count() == len(want)
    assert lineage.filter(F.col("completed_at").isNull()).count() == 0
    assert {r.run_id for r in lineage.select("run_id").collect()} == \
        {r1, r2}
    turns.unpersist()


def test_extract_dedup_equals_direct(spark):
    """Distinct-document extraction (hash -> extract once -> join back)
    must produce exactly the rows of direct per-turn extraction; the
    fixture-cycled corpus is heavily duplicated so the kernel runs an
    order of magnitude fewer times."""
    from pdf_parser_spark.operators.extraction import (
        extract_turns, extract_turns_dedup,
    )

    turns = synthetic_turns(spark, 30)
    direct = extract_turns(turns).drop("spans")
    dedup = extract_turns_dedup(turns).drop("spans")
    assert direct.exceptAll(dedup).count() == 0
    assert dedup.exceptAll(direct).count() == 0
    # the corpus really is duplicated (the optimization has a target)
    n_turns = turns.count()
    n_docs = turns.select("text").distinct().count()
    assert n_docs * 3 <= n_turns


def test_extract_dedup_keeps_null_text_turns(spark):
    """Regression: NULL-text turns must survive the dedup-extract path
    (NULL digests never equi-join; digest coalesces to '')."""
    from pdf_parser_spark.operators.extraction import (
        extract_turns, extract_turns_dedup,
    )

    turns = spark.createDataFrame(
        [("c1", 0, None), ("c1", 1, ""), ("c2", 0, "not a pdf")],
        "conv_id string, turn_idx int, text string")
    direct = extract_turns(turns).select(
        "conv_id", "turn_idx", "text", "parse_error")
    dedup = extract_turns_dedup(turns).select(
        "conv_id", "turn_idx", "text", "parse_error")
    assert dedup.count() == 3
    assert direct.exceptAll(dedup).count() == 0
    assert dedup.exceptAll(direct).count() == 0


def test_encrypted_turns_decrypt_in_workers(spark):
    """The decryptor runs in real Python workers, AES dependency
    included: the RC4 (R2, R3, R4) and AESV2 fixtures extract to their
    golden text through ``extract_turns``."""
    from pdf_parser_spark.fixtures import (
        pdf_encrypted_aes, pdf_encrypted_rc4,
    )

    docs = [pdf_encrypted_rc4(r) for r in (2, 3, 4)] + [pdf_encrypted_aes()]
    turns = spark.createDataFrame(
        [("enc", i, pdf.decode("latin-1")) for i, (pdf, _) in
         enumerate(docs)],
        "conv_id string, turn_idx int, text string")
    got = {r.turn_idx: (r.text, r.parse_error)
           for r in extract_turns(turns).collect()}
    assert got == {i: (golden["text"], None)
                   for i, (_, golden) in enumerate(docs)}


def test_worker_task_leaves_no_zip_finders(spark):
    """In a real Python worker, which imports pyspark from
    ``pyspark.zip``, the drained kernel leaves no zip import finder for
    the next task's ``importlib.invalidate_caches()`` to re-read."""
    import pyarrow as pa

    from pdf_parser_spark.fixtures import get_fixture

    def probe(batches):
        import sys
        import zipimport

        from pdf_parser_spark.operators.extraction import extract_turns

        class Capture:  # returns the kernel map_batches hands mapInArrow
            def select(self, *cols):
                return self

            def mapInArrow(self, fn, schema):
                return fn

        def zip_finders():
            return sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())

        before = zip_finders()
        for _ in extract_turns(Capture())(batches):
            pass
        yield pa.RecordBatch.from_pydict(
            {"before": [before], "after": [zip_finders()]})

    pdf, _golden = get_fixture("pdf-min-text")
    one = spark.createDataFrame([("c", 0, pdf.decode("latin-1"))],
                                "conv_id string, turn_idx int, text string")
    [row] = one.coalesce(1).mapInArrow(probe, "before long, after long") \
        .collect()
    assert row.after == 0, f"{row.before} zip finders before the kernel"
