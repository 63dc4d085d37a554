"""HTML main-content extraction over transcript rows (north_rule:
boilerplate strip / DOM heuristics), same Spark shape as the PDF
kernel: one ``mapInArrow`` call per Arrow batch, never raises,
embarrassingly parallel, only (id cols, html) cross the boundary."""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdf_parser_spark.operators.extraction import drop_zip_finders

HTML_EXTRACT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_kept", T.IntegerType()),
    T.StructField("n_chrome_blocks", T.IntegerType()),
])


def _extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from pdf_parser_spark.kernel.htmlx import extract_main_text

    try:
        for batch in batches:
            titles, texts, n_blocks, n_kept, n_chrome = [], [], [], [], []
            for html in batch.column("text").to_pylist():
                res = extract_main_text(html or "")
                titles.append(res["title"])
                texts.append(res["text"])
                n_blocks.append(res["n_blocks"])
                n_kept.append(res["n_kept"])
                n_chrome.append(res["n_chrome_blocks"])
            yield pa.RecordBatch.from_arrays(
                [batch.column("conv_id"),
                 batch.column("turn_idx").cast(pa.int32()),
                 pa.array(titles, pa.string()),
                 pa.array(texts, pa.string()),
                 pa.array(n_blocks, pa.int32()),
                 pa.array(n_kept, pa.int32()),
                 pa.array(n_chrome, pa.int32())],
                names=["conv_id", "turn_idx", "title", "text", "n_blocks",
                       "n_kept", "n_chrome_blocks"])
    finally:
        drop_zip_finders()


def extract_html_turns(turns: DataFrame) -> DataFrame:
    """Turns whose ``text`` column holds HTML → main-content rows."""
    slim = turns.select("conv_id", "turn_idx", "text")
    return slim.mapInArrow(_extract, schema=HTML_EXTRACT_SCHEMA)
