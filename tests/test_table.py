"""Table abstraction: parquet fallback + deterministic pseudo-snapshot."""

from __future__ import annotations

from pdf_parser_spark.sources.table import (
    current_snapshot_id,
    is_iceberg_ref,
    load_table,
)


def test_iceberg_ref_detection(tmp_path):
    assert is_iceberg_ref("catalog.db.turns")
    assert not is_iceberg_ref("/data/turns")
    assert not is_iceberg_ref(str(tmp_path))       # existing dir
    assert not is_iceberg_ref("data/turns")


def test_parquet_snapshot_tracks_changes(spark, tmp_path):
    from pdf_parser_spark.sources.turns import synthetic_turns

    d = str(tmp_path / "turns")
    synthetic_turns(spark, 5).write.mode("overwrite").parquet(d)
    s1 = current_snapshot_id(spark, d)
    s1_again = current_snapshot_id(spark, d)
    assert s1 == s1_again                          # stable when unchanged

    assert load_table(spark, d).count() == \
        synthetic_turns(spark, 5).count()

    synthetic_turns(spark, 3).write.mode("append").parquet(d)
    s2 = current_snapshot_id(spark, d)
    assert s2 != s1                                # input change detected


def test_snapshot_lineage_protocol(spark, tmp_path):
    """The lineage protocol is format-portable (SCALE.md 'Iceberg'
    table): the ONLY table-format operations it needs are (1) a
    snapshot identifier for the input at run time, (2) durable append,
    (3) a committed-lineage semi-join on read-back. This test proves
    the full loop on the parquet fallback; on Iceberg the same calls
    map 1:1 (current_snapshot_id -> .snapshots metadata table,
    load_table(..., snapshot_id=...) -> snapshot-pinned read) with no
    operator change."""
    from pdf_parser_spark.pipeline.job import ExtractionJob
    from pdf_parser_spark.sources.turns import synthetic_turns

    d = str(tmp_path / "turns")
    synthetic_turns(spark, 6).write.mode("overwrite").parquet(d)
    s1 = current_snapshot_id(spark, d)

    job = ExtractionJob(spark, str(tmp_path / "out"),
                        str(tmp_path / "lineage"), n_buckets=4, salt=2,
                        partitions=4)
    m = job.run(load_table(spark, d), snapshot_id=s1)
    assert m["turns"] > 0

    lineage = spark.read.parquet(str(tmp_path / "lineage"))
    snaps = {r["snapshot_id"] for r in
             lineage.select("snapshot_id").distinct().collect()}
    assert snaps == {s1}        # every committed bucket pins its input

    # input mutates under the job -> the pinned snapshot no longer
    # matches the live table: a resume driver must detect this and
    # either re-pin (new backfill) or read the ORIGINAL snapshot
    # (Iceberg time travel); silently resuming would skip appended
    # rows that hash into already-committed buckets.
    synthetic_turns(spark, 2).write.mode("append").parquet(d)
    s2 = current_snapshot_id(spark, d)
    assert s2 != s1
    assert snaps != {s2}        # the mismatch is detectable from lineage

    # committed read-back unaffected by the uncommitted input change
    assert job.read_output().count() == m["turns"]
