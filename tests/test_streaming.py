"""Structured Streaming surface: the extraction kernel over a streaming
source, and the watermarked operators in tests/streaming/."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_windowed_event_counts_stream_equals_batch(spark, tmp_path):
    from tests.streaming.events_stream import (
        events_stream, windowed_event_counts,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("testdata missing")
    # the file stream source requires a directory
    src_dir = tmp_path / "events"
    src_dir.mkdir()
    import shutil
    shutil.copy(src, src_dir / "part-0.parquet")
    batch = spark.read.parquet(str(src_dir))
    expected = {tuple(r) for r in
                windowed_event_counts(batch).collect()}

    stream = windowed_event_counts(events_stream(spark, str(src_dir)))
    q = (stream.writeStream.format("memory")
         .queryName("ev_counts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("select * from ev_counts").collect()}
    # append mode only emits windows finalized by the watermark; all
    # emitted windows must match the batch result exactly
    assert got <= expected
    assert len(got) > 0


def test_stream_static_join(spark, tmp_path):
    """Stream-static join: the extraction stream enriched against a
    static golden dimension — per-turn parity checked in-flight."""
    from pdf_parser_spark.operators.extraction import extract_turns
    from pdf_parser_spark.sources.turns import (
        TURNS_SCHEMA, golden_turns, synthetic_turns,
    )

    input_dir = str(tmp_path / "turns")
    synthetic_turns(spark, 15).write.mode("append").parquet(input_dir)
    static_golden = (golden_turns(spark, 15)
                     .withColumnRenamed("text", "golden_text")
                     .select("conv_id", "turn_idx", "golden_text"))

    stream = spark.readStream.schema(TURNS_SCHEMA).parquet(input_dir)
    joined = (extract_turns(stream)
              .join(static_golden, ["conv_id", "turn_idx"])
              .withColumn("matched",
                          F.col("text") == F.col("golden_text")))
    q = (joined.writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    rows = spark.sql(
        "select count(*) n, sum(case when matched then 1 else 0 end) m "
        "from enriched").head()
    assert rows["n"] > 0 and rows["n"] == rows["m"]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicates within the watermark horizon
    are suppressed; state is watermark-bounded (the 10^12-turn scale
    requirement). Emitted set == batch first-per-digest oracle."""
    from pdf_parser_spark.sources.turns import synthetic_turns
    from tests.streaming.dedup_stream import (
        dedup_batch, dedup_stream,
    )

    src_dir = str(tmp_path / "turns")
    # fixture-cycled corpus: heavy payload duplication by construction
    turns = synthetic_turns(spark, 30)
    turns.write.mode("append").parquet(src_dir)

    stream = (spark.readStream.schema(turns.schema).parquet(src_dir))
    q = (dedup_stream(stream, watermark="10 minutes")
         .writeStream.format("memory").queryName("dedup_turns")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = spark.sql(
        "select md5(text) as d, count(*) as c from dedup_turns group by 1")
    per_digest = {r["d"]: r["c"] for r in got.collect()}

    n_digests = turns.select(F.md5("text")).distinct().count()
    assert len(per_digest) == n_digests
    # within one availableNow drain everything is inside the horizon:
    # exactly one survivor per digest
    assert all(c == 1 for c in per_digest.values())
    # batch oracle agrees on the digest set
    batch = dedup_batch(turns)
    assert batch.count() == n_digests


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the same join run in
    batch, and its per-error counts == the q20 batch range join for
    errors with >=1 preceding click."""
    from pdf_parser_spark.queries import q20_range_join
    from tests.streaming.interval_join_stream import (
        clicks_before_errors,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("testdata missing")
    src_dir = tmp_path / "events"
    src_dir.mkdir()
    import shutil
    shutil.copy(src, src_dir / "part-0.parquet")
    batch_events = spark.read.parquet(str(src_dir))

    stream = spark.readStream.schema(batch_events.schema).parquet(
        str(src_dir))
    q = (clicks_before_errors(stream)
         .writeStream.format("memory").queryName("ssj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {tuple(r) for r in
           spark.sql("select error_id, click_id from ssj").collect()}

    expected = {(r["error_id"], r["click_id"]) for r in
                clicks_before_errors(batch_events).collect()}
    assert got == expected
    assert len(got) > 0

    # per-error counts line up with the oracled batch range join
    from collections import Counter
    per_error = Counter(e for e, _ in got)
    q20 = {r["event_id"]: r["clicks_prev_hour"] for r in
           q20_range_join(spark, str("/root/testdata/sf0.001")).collect()}
    for eid, cnt in per_error.items():
        assert q20[eid] == cnt
