"""Corruption fuzzing: the kernel must NEVER raise on arbitrary bytes
(north_rule: parse failures become parse_error rows, never job aborts).
Mutations are seeded — failures reproduce exactly."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_parser_spark.fixtures import FIXTURES, get_fixture
from pdf_parser_spark.kernel.extract import extract_text
from pdf_parser_spark.kernel.htmlx import extract_main_text


def _mutate(data: bytes, rng: random.Random) -> bytes:
    buf = bytearray(data)
    op = rng.randrange(4)
    if op == 0 and buf:            # flip random bytes
        for _ in range(rng.randrange(1, 8)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
    elif op == 1 and len(buf) > 2:  # delete a slice
        i = rng.randrange(len(buf) - 1)
        j = min(len(buf), i + rng.randrange(1, 64))
        del buf[i:j]
    elif op == 2:                  # insert junk
        i = rng.randrange(len(buf) + 1)
        buf[i:i] = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(1, 32)))
    else:                          # truncate
        buf = buf[:rng.randrange(len(buf) + 1)]
    return bytes(buf)


def test_pdf_kernel_never_raises_on_corruption():
    rng = random.Random(20260817)
    fids = sorted(FIXTURES)
    for trial in range(400):
        pdf, _g = get_fixture(fids[trial % len(fids)])
        data = _mutate(pdf, rng)
        res = extract_text(data)            # must not raise
        assert isinstance(res["text"], str)
        assert res["bytes"] == len(data)
        # either it parsed or it recorded why not
        assert res["parse_error"] is None or res["parse_error"]


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2048))
def test_pdf_kernel_never_raises_on_random_bytes(data):
    res = extract_text(data)
    assert isinstance(res, dict) and isinstance(res["text"], str)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=2048))
def test_html_kernel_never_raises_on_random_text(text):
    res = extract_main_text(text)
    assert isinstance(res["text"], str)


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=300, deadline=None)
def test_jpeg_decoder_never_aborts_on_fuzz(data):
    """decode_baseline_jpeg must raise ONLY JpegError on arbitrary
    bytes (the sink's never-abort contract depends on the structured
    fallback) — no IndexError/MemoryError/struct.error escapes."""
    from pdf_parser_spark.kernel.jpegdec import JpegError, decode_baseline_jpeg

    payload = b"\xff\xd8" + data  # SOI + fuzz (else trivially rejected)
    try:
        w, h, n, px = decode_baseline_jpeg(payload)
        assert len(px) == w * h * n
    except JpegError:
        pass


@given(st.binary(min_size=2, max_size=200))
@settings(max_examples=200, deadline=None)
def test_jpeg_decoder_never_aborts_on_mutated_valid(data):
    """Splice fuzz bytes into the middle of a VALID baseline JPEG —
    exercises segment/entropy parsing deeper than pure-random input."""
    from pdf_parser_spark.kernel.jpegdec import (
        JpegError, decode_baseline_jpeg, encode_baseline_jpeg,
    )

    base = encode_baseline_jpeg(bytes([40] * 8 + [200] * 8) * 8, 16, 8, 1)
    cut = len(base) // 2
    payload = base[:cut] + data + base[cut:]
    try:
        decode_baseline_jpeg(payload)
    except JpegError:
        pass


def test_objstm_many_members_parse_bounded():
    """A 300-member object stream parses correctly member-by-member
    (each bounded to its extent by the next distinct offset — the
    round-3 O(n x stream) lex fix)."""
    from pdf_parser_spark.kernel.cos import PdfDict, PdfInteger
    from pdf_parser_spark.kernel.fileparse import parse_object_stream

    n = 300
    pairs, bodies = [], bytearray()
    for num in range(1, n + 1):
        body = b"<</N %d /Tag /T%d>>" % (num, num) \
            if num % 2 else b"%d" % (num * 7)
        pairs.append(b"%d %d" % (num, len(bodies)))
        bodies += body + b"\n"
    header = b" ".join(pairs) + b"\n"
    data = header + bytes(bodies)
    out = parse_object_stream(data, n, len(header))
    assert len(out) == n
    assert isinstance(out[2], PdfInteger) and out[2].value == 14
    assert isinstance(out[1], PdfDict)
    assert isinstance(out[299], PdfDict)
    assert out[299].get("N").value == 299


def test_objstm_lying_offset_table_retries_unbounded():
    """A member whose serialization crosses the NEXT member's declared
    start (lying/overlapping offset table, malformed per §7.5.7) must
    still parse: the bounded slice raises, and the once-only unbounded
    retry recovers the full object — pinning the pre-bounding behavior
    for exactly these streams."""
    from pdf_parser_spark.kernel.cos import PdfDict, PdfInteger
    from pdf_parser_spark.kernel.fileparse import parse_object_stream

    # offset table: obj 1 @0, obj 2 @5 — but obj 1's dict is 12 bytes,
    # so it crosses obj 2's declared start. Bounded slice [0:5] is
    # b"<</A " -> parse error -> unbounded retry recovers the whole
    # dict. Obj 2's declared offset lands mid-dict on b"1/B 2>>",
    # which parses as the integer 1 (the lying table's own story).
    body = b"<</A 1/B 2>>"
    header = b"1 0 2 5\n"
    data = header + body
    out = parse_object_stream(data, 2, len(header))
    assert isinstance(out[1], PdfDict)
    assert out[1].get("A").value == 1
    assert out[1].get("B").value == 2
    assert isinstance(out[2], PdfInteger) and out[2].value == 1

_HUGE = b"9" * 400   # int() parses it; float(int) overflows


@pytest.mark.parametrize("ops", [
    b"BT [(a) -" + _HUGE + b" (b)] TJ ET",
    _HUGE + b" 0 0 1 0 0 cm BT (a) Tj ET",
    b"BT " + _HUGE + b" TL T* (a) Tj ET",
    b"BT " + _HUGE + b" 0 0 1 0 0 Tm (a) Tj ET",
    b"BT 0 -" + _HUGE + b" TD (a) Tj ET",
    b"BT 0 0 " + _HUGE + b" Td (a) Tj ET",
    b"BT /F1 " + _HUGE + b" Tf (a) Tj ET",
], ids=["TJ", "cm", "TL", "Tm", "TD", "Td", "Tf"])
def test_hostile_number_operand_yields_error_row(ops):
    """A numeric operand too large for a float must not escape the
    kernel: the Arrow batch kernel still emits exactly one row, with
    the overflow recorded in parse_error."""
    import pyarrow as pa

    from pdf_parser_spark.fixtures import PdfBuilder, _scaffold
    from pdf_parser_spark.operators.extraction import _extract_batches

    b = PdfBuilder()
    _scaffold(b)
    b.add_stream(4, b"", ops)
    pdf = b.build()
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["c"]), pa.array([0], pa.int64()),
         pa.array([pdf.decode("latin-1")])],
        names=["conv_id", "turn_idx", "text"])
    out = list(_extract_batches(iter([batch])))
    rows = [r for ob in out for r in ob.to_pylist()]
    assert len(rows) == 1
    assert rows[0]["parse_error"] is not None
    assert rows[0]["parse_error"].startswith("OverflowError")
