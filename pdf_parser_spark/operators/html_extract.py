"""HTML main-content extraction over transcript rows (north_rule:
boilerplate strip / DOM heuristics), same Spark shape as the PDF
kernel: one ``mapInArrow`` call per Arrow batch, never raises,
embarrassingly parallel, only (id cols, html) cross the boundary."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdf_parser_spark.operators.extraction import map_batches

HTML_EXTRACT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_kept", T.IntegerType()),
    T.StructField("n_chrome_blocks", T.IntegerType()),
])


def _html_columns(batch: pa.RecordBatch) -> list:
    from pdf_parser_spark.kernel.htmlx import extract_main_text

    results = [extract_main_text(html or "")
               for html in batch.column("text").to_pylist()]
    return [batch.column("conv_id"), batch.column("turn_idx")] + [
        [res[k] for res in results] for k in HTML_EXTRACT_SCHEMA.names[2:]]


def extract_html_turns(turns: DataFrame) -> DataFrame:
    """Turns whose ``text`` column holds HTML → main-content rows."""
    slim = turns.select("conv_id", "turn_idx", "text")
    return map_batches(slim, _html_columns, HTML_EXTRACT_SCHEMA)
