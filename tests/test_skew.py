"""Skew handling evidence (north_rule: explicit salting for skewed
long conversations): a corpus with one giant conversation must spread
across several of the extraction job's write tasks."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _skewed_turns(spark, big=2000, small=50):
    """One conversation with `big` turns + `small` singleton convs."""
    from pdf_parser_spark.fixtures import get_fixture
    pdf, _g = get_fixture("pdf-min-text")
    text = pdf.decode("latin-1")
    rows = ([("conv-big", i, text) for i in range(big)]
            + [(f"conv-{i:04d}", 0, text) for i in range(small)])
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ])
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"]),
        schema=schema)


def test_salting_spreads_giant_conversation(spark, tmp_path):
    """ExtractionJob.run's (bucket, salt) repartition must spread the
    giant conversation over several write tasks. Each task writes its
    own parquet file, so the files holding conv-big count its tasks;
    without the salt all its turns share one key and one task."""
    from pdf_parser_spark.pipeline.job import ExtractionJob

    turns = _skewed_turns(spark)
    job = ExtractionJob(spark, str(tmp_path / "out"),
                        str(tmp_path / "lineage"), n_buckets=16, salt=8,
                        partitions=16)
    job.run(turns)

    # read the output directory itself: input_file_name() is not
    # defined over read_output()'s semi-join
    files = (spark.read.parquet(job.output_dir)
             .filter(F.col("conv_id") == "conv-big")
             .select(F.input_file_name()).distinct().count())
    assert files >= 3  # 8 salt values land in >=3 of 16 tasks

    # correctness unaffected: every turn committed exactly once
    out = job.read_output()
    assert out.count() == turns.count()
    assert out.filter(F.col("parse_error").isNotNull()).count() == 0
    assert (out.select("conv_id", "turn_idx").distinct().count()
            == turns.count())
