"""Deterministic synthetic HTML transcript corpus + goldens (the HTML
counterpart of sources/turns.py): each turn's ``text`` is a full HTML
page with chrome (nav/header/sidebar/footer/script) wrapped around a
known article body; the golden is exactly that body, so extraction
parity is assert-able per turn."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pdf_parser_spark.sources.turns import expand_rows

_WORDS = ("spark arrow parquet shuffle partition kernel lexer parser "
          "stream batch window join filter project agg broadcast salt "
          "lineage resume golden fixture").split()

HTML_TURNS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
])

HTML_GOLDEN_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("title", T.StringType(), False),
])


def _paragraph(seed: int, j: int) -> str:
    n = 8 + (seed + j) % 7
    return " ".join(_WORDS[(seed + j + k) % len(_WORDS)]
                    for k in range(n)) + "."


def build_page(conv_i: int, turn_idx: int) -> tuple[str, str, str]:
    """Returns (html, golden_text, title)."""
    seed = conv_i * 31 + turn_idx * 7
    title = f"Doc {conv_i}-{turn_idx}"
    paras = [_paragraph(seed, j) for j in range(1 + seed % 3)]
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    html = f"""<!DOCTYPE html>
<html><head><title>{title}</title>
<script>var x = "not {seed} text";</script>
<style>.m {{ color: red }}</style></head>
<body>
<nav><a href="/">home</a> <a href="/a">section a</a>
     <a href="/b">section b</a></nav>
<header><h1>Site Chrome Heading</h1></header>
<div class="sidebar"><a href="/x">related link one</a>
  <a href="/y">related link two</a> <a href="/z">related three</a></div>
<article>
{body}
</article>
<div class="comments"><p>short spam comment with enough characters to
matter</p></div>
<footer>copyright chrome footer text that should disappear</footer>
</body></html>"""
    return html, "\n\n".join(paras), title


def html_turns(spark: SparkSession, n_convs: int,
               turns_per_conv: int = 2,
               partitions: int | None = None) -> DataFrame:
    def rows(i: int):
        for t in range(turns_per_conv):
            yield f"hconv-{i:06d}", t, build_page(i, t)[0]

    return expand_rows(spark, n_convs, rows, HTML_TURNS_SCHEMA, partitions)


def html_golden(spark: SparkSession, n_convs: int,
                turns_per_conv: int = 2,
                partitions: int | None = None) -> DataFrame:
    def rows(i: int):
        for t in range(turns_per_conv):
            _html, golden, title = build_page(i, t)
            yield f"hconv-{i:06d}", t, golden, title

    return expand_rows(spark, n_convs, rows, HTML_GOLDEN_SCHEMA, partitions)
