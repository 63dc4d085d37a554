"""Deterministic synthetic ``turns`` transcript table (FIXTURES.md §1).

Schema exactly per BASELINE.json input_hint:
``(conv_id string, turn_idx int32, role string, text string,
tool string, ts timestamp)`` — ``text`` holds one fixture PDF's bytes
latin-1-decoded (lossless byte<->str round trip).

Generation is *distributed*: ``spark.range(n_convs)`` fans out and a
``mapInPandas`` kernel expands each conversation into its turns, so the
driver never materializes the corpus (scales to any n_convs). Columns
are built column-wise (dict-of-lists) — list-of-dict row building
measured ~2x slower at 50k turns. Skew knob: ~2% of conversations are
long (FIXTURES.md §1) to exercise salting.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pdf_parser_spark.operators.extraction import drop_zip_finders

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
_EPOCH = pd.Timestamp("2026-01-01")


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


def synthetic_turns(spark: SparkSession, n_convs: int,
                    broken_every: int = 0,
                    partitions: int | None = None) -> DataFrame:
    """Distributed deterministic turns table."""

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            for pdf_in in batches:
                conv_ids, turn_idxs, roles, texts, tools, secs = \
                    [], [], [], [], [], []
                for i in pdf_in["id"]:
                    i = int(i)
                    for conv_id, t, _fid, pdf, _g, _b in _conv_turns(
                            i, broken_every):
                        conv_ids.append(conv_id)
                        turn_idxs.append(t)
                        role = _ROLES[t % 3]
                        roles.append(role)
                        texts.append(pdf.decode("latin-1"))
                        tools.append("pdf_extract" if role == "tool" else "")
                        secs.append(i * 3600 + t * 60)
                yield pd.DataFrame({
                    "conv_id": conv_ids,
                    "turn_idx": pd.array(turn_idxs, dtype="int32"),
                    "role": roles,
                    "text": texts,
                    "tool": tools,
                    "ts": _EPOCH + pd.to_timedelta(
                        np.asarray(secs, dtype="int64"), unit="s"),
                })
        finally:
            drop_zip_finders()

    rng = spark.range(n_convs)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(expand, schema=TURNS_SCHEMA)


def golden_turns(spark: SparkSession, n_convs: int,
                 broken_every: int = 0,
                 partitions: int | None = None) -> DataFrame:
    """Expected extraction per turn, from the same deterministic fixture
    mapping (FIXTURES.md §1 golden table)."""

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            for pdf_in in batches:
                conv_ids, turn_idxs, texts, n_pages, n_spans = \
                    [], [], [], [], []
                for i in pdf_in["id"]:
                    for conv_id, t, _fid, _pdf, golden, broken in _conv_turns(
                            int(i), broken_every):
                        conv_ids.append(conv_id)
                        turn_idxs.append(t)
                        texts.append("" if broken else golden["text"])
                        n_pages.append(0 if broken else golden["n_pages"])
                        n_spans.append(0 if broken else golden["n_spans"])
                yield pd.DataFrame({
                    "conv_id": conv_ids,
                    "turn_idx": pd.array(turn_idxs, dtype="int32"),
                    "text": texts,
                    "n_pages": pd.array(n_pages, dtype="int32"),
                    "n_spans": pd.array(n_spans, dtype="int32"),
                })
        finally:
            drop_zip_finders()

    rng = spark.range(n_convs)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(expand, schema=GOLDEN_SCHEMA)
