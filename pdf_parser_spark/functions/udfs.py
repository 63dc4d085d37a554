"""Vectorized pandas UDF / UDAF surface (SURVEY §2.6 audit).

NOTE: no ``from __future__ import annotations`` here on purpose —
pandas_udf resolves the type hints at decoration time, and stringified
hints with locally-imported pandas break that.

- ``sha256_udf``            scalar pandas UDF (Series -> Series), the
                            golden-compare-hash shape; Arrow-batched,
                            ~100x a row-at-a-time Python UDF
- ``weighted_quality_udaf`` grouped-aggregate pandas UDAF
                            (Series, Series -> scalar); integer
                            milli-unit arithmetic inside so a SQL
                            oracle reproduces it exactly
"""

import hashlib

import pandas as pd
from pyspark.sql.functions import pandas_udf

from pdf_parser_spark.operators.extraction import drop_zip_finders


@pandas_udf("string")
def sha256_udf(texts: pd.Series) -> pd.Series:
    try:
        return texts.map(
            lambda t: hashlib.sha256((t or "").encode("utf-8")).hexdigest())
    finally:
        drop_zip_finders()


@pandas_udf("double")
def weighted_quality_udaf(milli: pd.Series, weight: pd.Series) -> float:
    try:
        w = int(weight.sum())
        if w == 0:
            return 0.0
        return round(float(int((milli * weight).sum()) / w / 1000.0), 6)
    finally:
        drop_zip_finders()
