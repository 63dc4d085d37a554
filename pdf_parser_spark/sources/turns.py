"""Deterministic synthetic ``turns`` transcript table (FIXTURES.md §1).

Schema exactly per BASELINE.json input_hint:
``(conv_id string, turn_idx int32, role string, text string,
tool string, ts timestamp)`` — ``text`` holds one fixture PDF's bytes
latin-1-decoded (lossless byte<->str round trip).

Generation is *distributed*: ``spark.range(n_convs)`` fans out and
``expand_rows`` turns each conversation id into its rows inside the
package's one Arrow batch boundary (``map_batches``), so the driver
never materializes the corpus (scales to any n_convs). A table
supplies only ``rows(i)``, conversation i's rows as tuples in schema
order; ``sources/html_turns.py`` reuses the same helper. Skew knob:
~2% of conversations are long (FIXTURES.md §1) to exercise salting.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pdf_parser_spark.operators.extraction import map_batches

TURNS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("tool", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
])

GOLDEN_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("n_pages", T.IntegerType(), False),
    T.StructField("n_spans", T.IntegerType(), False),
])

_ROLES = ("user", "assistant", "tool")
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def n_turns_for(i: int) -> int:
    """FIXTURES.md §1 skew knob: conversation i has 1 + (7 if i%50==0
    else i%4) turns — ~2% long conversations."""
    return 1 + (7 if i % 50 == 0 else i % 4)


def _conv_turns(i: int, broken_every: int):
    """Yield (conv_id, turn_idx, fid, pdf, golden, is_broken) per turn."""
    from pdf_parser_spark.fixtures import (
        BROKEN_FIXTURES, fixture_for, get_fixture,
    )
    conv_id = f"conv-{i:06d}"
    nt = n_turns_for(i)
    for t in range(nt):
        fid, pdf, golden = fixture_for(conv_id, t)
        is_broken = (broken_every and t == nt - 1
                     and i % broken_every == broken_every - 1)
        if is_broken:
            bids = sorted(BROKEN_FIXTURES)
            fid = bids[i % len(bids)]
            pdf, golden = get_fixture(fid)
        yield conv_id, t, fid, pdf, golden, is_broken


def expand_rows(spark: SparkSession, n_convs: int,
                rows: Callable[[int], Iterable[tuple]],
                schema: T.StructType,
                partitions: int | None = None) -> DataFrame:
    """Distributed table of every ``rows(i)`` for i < n_convs: each
    conversation id expands to its rows, tuples in ``schema`` order."""

    def columns(batch) -> list:
        out = [row for i in batch.column("id").to_pylist()
               for row in rows(i)]
        return list(zip(*out)) or [()] * len(schema.fields)

    rng = spark.range(n_convs)
    if partitions:
        rng = rng.repartition(partitions)
    return map_batches(rng, columns, schema)


def synthetic_turns(spark: SparkSession, n_convs: int,
                    broken_every: int = 0,
                    partitions: int | None = None) -> DataFrame:
    """Distributed deterministic turns table."""

    def rows(i: int):
        for conv_id, t, _fid, pdf, _g, _b in _conv_turns(i, broken_every):
            role = _ROLES[t % 3]
            yield (conv_id, t, role, pdf.decode("latin-1"),
                   "pdf_extract" if role == "tool" else "",
                   _EPOCH + timedelta(seconds=i * 3600 + t * 60))

    return expand_rows(spark, n_convs, rows, TURNS_SCHEMA, partitions)


def golden_turns(spark: SparkSession, n_convs: int,
                 broken_every: int = 0,
                 partitions: int | None = None) -> DataFrame:
    """Expected extraction per turn, from the same deterministic fixture
    mapping (FIXTURES.md §1 golden table)."""

    def rows(i: int):
        for conv_id, t, _fid, _pdf, golden, broken in _conv_turns(
                i, broken_every):
            yield (conv_id, t, "" if broken else golden["text"],
                   0 if broken else golden["n_pages"],
                   0 if broken else golden["n_spans"])

    return expand_rows(spark, n_convs, rows, GOLDEN_SCHEMA, partitions)
