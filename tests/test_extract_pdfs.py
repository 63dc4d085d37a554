"""End-to-end kernel extraction over the whole-PDF fixture corpus
(FIXTURES.md §5). Exercises header->trailer->xref->page-tree->content
interpretation on every structural variant, including the cases where
the reference would panic (free entries, /Prev chains, XRef streams)."""

import pytest

from pdf_parser_spark.fixtures import (
    BROKEN_FIXTURES, FIXTURES, IMG_RGB_2X2, get_fixture,
)
from pdf_parser_spark.kernel.extract import extract_text


@pytest.mark.parametrize("fid", sorted(FIXTURES))
def test_fixture_text_golden(fid):
    pdf, golden = get_fixture(fid)
    res = extract_text(pdf)
    assert res["parse_error"] is None, f"{fid}: {res['parse_error']}"
    assert res["text"] == golden["text"], fid
    assert res["n_pages"] == golden["n_pages"], fid
    assert len(res["spans"]) == golden["n_spans"], fid
    assert res["bytes"] == len(pdf)


@pytest.mark.parametrize("fid", sorted(BROKEN_FIXTURES))
def test_broken_fixture_records_error(fid):
    """Malformed input -> parse_error row, never an exception
    (north_rule: parse-failure accounting; the reference panics)."""
    pdf, _ = get_fixture(fid)
    res = extract_text(pdf)
    assert res["parse_error"] is not None, fid
    assert res["text"] == ""


def test_encrypted_pdf_detected_before_any_text():
    """Trailer /Encrypt -> parse_error='encrypted' (structured token,
    not a formatted message) and NO text/spans emitted: an encrypted
    PDF parses its structure fine but its strings/streams are
    ciphertext — extracting them would silently poison a corpus.
    [EXTENSION]: the reference has no Encrypt handling (no 'Encrypt'
    anywhere in /root/reference/src/) and would emit mojibake."""
    pdf, golden = get_fixture("pdf-encrypted")
    res = extract_text(pdf)
    assert res["parse_error"] == "encrypted"
    assert res["text"] == ""
    assert res["spans"] == []


def test_encrypted_probe_fires_on_direct_dict_too():
    """/Encrypt as a DIRECT trailer dict (rare but legal) triggers the
    same structured error; /Encrypt null does NOT (null = absent per
    §7.3.9)."""
    from pdf_parser_spark.fixtures import PdfBuilder, _scaffold, lit

    b = PdfBuilder()
    _scaffold(b)
    b.add_stream(4, b"", b"BT /F1 12 Tf 72 720 Td " + lit("x") + b" Tj ET")
    direct = b.build(trailer_extra=b" /Encrypt <</Filter /Standard /V 1>>")
    assert extract_text(direct)["parse_error"] == "encrypted"

    b2 = PdfBuilder()
    _scaffold(b2)
    b2.add_stream(4, b"", b"BT /F1 12 Tf 72 720 Td " + lit("ok") + b" Tj ET")
    nulled = b2.build(trailer_extra=b" /Encrypt null")
    res = extract_text(nulled)
    assert res["parse_error"] is None
    assert res["text"] == "ok"


def test_image_flate_parity():
    """2x2 DeviceRGB Flate image round-trips to known pixels
    (ref src/image.rs:132-161)."""
    pdf, golden = get_fixture("pdf-image-flate")
    res = extract_text(pdf, with_images=True)
    assert res["parse_error"] is None
    assert len(res["images"]) == 1
    img = res["images"][0]
    assert (img["width"], img["height"]) == (2, 2)
    assert img["format"] == "raw-rgb"
    assert img["data"] == IMG_RGB_2X2


def test_inline_images_through_d1_d6():
    """BI..ID..EI inline images ([EXTENSION] §8.9.7): abbreviated keys
    (/W /H /CS /G /RGB /BPC /F /Fl) normalize, raw and Flate payloads
    decode through the same raster assembly as XObjects (Gray->RGB
    expansion included), names BI1/BI2 in content order, and the text
    on the same page still extracts."""
    from pdf_parser_spark.fixtures import pdf_image_inline

    pdf, golden = get_fixture("pdf-image-inline")
    res = extract_text(pdf, with_images=True)
    assert res["parse_error"] is None
    assert res["text"] == "inline img"
    assert len(res["images"]) == 2
    for got, want in zip(res["images"], golden["images"]):
        for k in ("page", "name", "width", "height", "colorspace",
                  "format", "data"):
            assert got[k] == want[k], (want["name"], k)


def test_inline_images_decode_page_content_once(monkeypatch):
    """The image path reuses the text scan: the interpreter records
    each inline image at ID, so ``pdf-image-inline``'s one content
    stream is defiltered once, not again to look for images."""
    from pdf_parser_spark.kernel.doc import PdfDocument

    calls = []
    stream_data = PdfDocument.stream_data

    def counted(self, stm):
        calls.append(stm.obj_num)
        return stream_data(self, stm)

    monkeypatch.setattr(PdfDocument, "stream_data", counted)
    pdf, golden = get_fixture("pdf-image-inline")
    res = extract_text(pdf, with_images=True)
    assert res["parse_error"] is None
    assert [img["name"] for img in res["images"]] == ["BI1", "BI2"]
    assert len(calls) == 1, calls


def test_inline_image_unsupported_shapes_skipped():
    """Out-of-envelope inline images (1-bit mask, CMYK, unknown
    filter) are skipped without aborting text or sibling images."""
    from pdf_parser_spark.fixtures import (
        IMG_RGB_2X2, PdfBuilder, _scaffold, lit,
    )
    import zlib

    b = PdfBuilder()
    _scaffold(b)
    content = (b"BT /F1 12 Tf 72 720 Td " + lit("still here") + b" Tj ET\n"
               b"BI /W 8 /H 8 /IM true /BPC 1 ID " + bytes(8) + b" EI\n"
               b"BI /W 1 /H 1 /CS /CMYK /BPC 8 ID " + bytes(4) + b" EI\n"
               b"BI /W 1 /H 1 /CS /G /BPC 8 /F /CCF ID " + bytes(4) + b" EI\n"
               b"BI /W 2 /H 2 /CS /RGB /BPC 8 /F /Fl ID "
               + zlib.compress(IMG_RGB_2X2) + b" EI")
    b.add_stream(4, b"", content)
    res = extract_text(b.build(), with_images=True)
    assert res["parse_error"] is None
    assert res["text"] == "still here"
    assert len(res["images"]) == 1
    img = res["images"][0]
    assert img["name"] == "BI4" and img["data"] == IMG_RGB_2X2


def test_inline_image_truncated_dict_never_aborts_page():
    """A content stream ending mid-inline-dict (``... BI /W`` with no
    ID) must not raise out of the BI scan — text extraction on the
    page survives (ADVICE r4: toks[i] ran past the token list)."""
    from pdf_parser_spark.fixtures import PdfBuilder, _scaffold, lit

    for tail in (b"BI /W",          # key at end, no value, no ID
                 b"BI /W 8",        # value at end, no ID
                 b"BI /W 8 /H",     # second key at end
                 b"BI"):            # bare BI at end
        b = PdfBuilder()
        _scaffold(b)
        content = (b"BT /F1 12 Tf 72 720 Td " + lit("survives") +
                   b" Tj ET\n" + tail)
        b.add_stream(4, b"", content)
        res = extract_text(b.build(), with_images=True)
        assert res["parse_error"] is None, tail
        assert res["text"] == "survives", tail
        assert res["images"] == [], tail


def test_inline_image_key_without_value_keeps_data_attribution():
    """``BI /W ID`` (key with no value right before ID) must not
    consume the data token: the malformed image is skipped on its own
    params and the NEXT image's data is not mis-attributed to it
    (ADVICE r4)."""
    from pdf_parser_spark.fixtures import (
        IMG_RGB_2X2, PdfBuilder, _scaffold, lit,
    )

    b = PdfBuilder()
    _scaffold(b)
    content = (b"BT /F1 12 Tf 72 720 Td " + lit("attrib") + b" Tj ET\n"
               b"BI /W ID " + bytes(3) + b" EI\n"
               b"BI /W 2 /H 2 /CS /RGB /BPC 8 ID " + IMG_RGB_2X2 + b" EI")
    b.add_stream(4, b"", content)
    res = extract_text(b.build(), with_images=True)
    assert res["parse_error"] is None
    assert res["text"] == "attrib"
    assert len(res["images"]) == 1
    img = res["images"][0]
    # the valid image keeps ITS payload (BI numbering counts every BI)
    assert img["data"] == IMG_RGB_2X2
    assert (img["width"], img["height"]) == (2, 2)


def test_image_smask_anti_join():
    """The /SMask pair is excluded; only the main DCT image survives
    (ref src/page.rs:51-74)."""
    pdf, golden = get_fixture("pdf-image-dct-smask")
    res = extract_text(pdf, with_images=True)
    assert res["parse_error"] is None
    assert len(res["images"]) == 1
    assert res["images"][0]["format"] == "jpeg"
    assert res["images"][0]["name"] == "Im1"


def test_gray_image_expands_to_rgb():
    """DeviceGray rasters expand to RGB like the reference's
    into_rgb8() (src/image.rs:158-160)."""
    import zlib

    from pdf_parser_spark.fixtures import PdfBuilder, lit
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
             b"<</XObject <</Im1 6 0 R>>>>>>")
    b.add_stream(4, b"", b"q 1 0 0 1 0 0 cm /Im1 Do Q")
    b.add_stream(6, b"/Subtype /Image /Width 2 /Height 1 "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                    b"/Filter /FlateDecode", zlib.compress(bytes([7, 200])))
    res = extract_text(b.build(), with_images=True)
    assert res["parse_error"] is None
    assert res["images"][0]["data"] == bytes([7, 7, 7, 200, 200, 200])


def test_page_subset_scan():
    """Page-subset extraction parity with PDF::extract_image(&pages)
    (ref src/lib.rs:60-72): untouched pages' content is never parsed."""
    pdf, _ = get_fixture("pdf-multipage")
    res = extract_text(pdf, pages=[2])
    assert res["parse_error"] is None
    assert res["text"] == "Page 2\nLine two"
    assert res["n_pages"] == 3  # page count still reflects the tree


def test_image_dct_parity():
    """DCTDecode raster parity (ref src/image.rs:140-143): the baseline
    JPEG fixture decodes to analytically known pixels, expanded
    Gray->RGB like into_rgb8()."""
    pdf, golden = get_fixture("pdf-image-dct")
    res = extract_text(pdf, with_images=True)
    assert res["parse_error"] is None
    assert len(res["images"]) == 1
    img = res["images"][0]
    assert img["format"] == "raw-rgb"
    assert (img["width"], img["height"]) == (16, 8)
    assert img["data"] == golden["image_data"]


def test_jpeg_sink_roundtrip_exact():
    """Sink parity (ref src/main.rs:36-42): re-encoding the gray DCT
    fixture's raster to JPEG and decoding it back reproduces the exact
    pixels (flat blocks + gray->RGB have no YCbCr rounding)."""
    from pdf_parser_spark.kernel.jpegdec import (
        decode_baseline_jpeg, encode_baseline_jpeg,
    )

    pdf, golden = get_fixture("pdf-image-dct")
    res = extract_text(pdf, with_images=True)
    img = res["images"][0]
    jpeg = encode_baseline_jpeg(img["data"], img["width"],
                                img["height"], 3)
    w, h, n, px = decode_baseline_jpeg(jpeg)
    assert (w, h, n) == (img["width"], img["height"], 3)
    assert px == golden["image_data"]


def test_image_dct_progressive_parity():
    """Progressive (SOF2) DCTDecode decodes through the real extraction
    path to the same analytically known pixels as the baseline
    fixture."""
    pdf, golden = get_fixture("pdf-image-dct-prog")
    res = extract_text(pdf, with_images=True)
    assert res["parse_error"] is None
    img = res["images"][0]
    assert img["format"] == "raw-rgb"
    assert img["data"] == golden["image_data"]


def test_dct_dim_mismatch_degrades_to_passthrough():
    """A decodable JPEG whose intrinsic dims disagree with /Width
    /Height must fall back to byte passthrough, NOT abort the
    document (text extraction survives)."""
    from pdf_parser_spark.fixtures import PdfBuilder, lit
    from pdf_parser_spark.kernel.jpegdec import encode_baseline_jpeg
    import numpy as np

    jpeg = encode_baseline_jpeg(bytes(np.full(64, 9, np.uint8)), 8, 8, 1)
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
             b"<</Font <</F1 5 0 R>> /XObject <</Im1 6 0 R>>>>>>")
    b.add(5, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    b.add_stream(4, b"", b"BT /F1 10 Tf 10 10 Td " + lit("still here")
                 + b" Tj ET\nq 4 0 0 4 0 0 cm /Im1 Do Q")
    # dict claims 4x4; JPEG is really 8x8
    b.add_stream(6, b"/Subtype /Image /Width 4 /Height 4 "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                    b"/Filter /DCTDecode", jpeg)
    res = extract_text(b.build(), with_images=True)
    assert res["parse_error"] is None
    assert res["text"] == "still here"
    assert res["images"][0]["format"] == "jpeg"


def test_undefined_keyword_is_lexer_error_not_typeerror():
    """Regression: a keyword-prefixed operator run in a content stream
    ('truex') must surface as a LexerError parse_error, never a
    TypeError from the error-path itself."""
    from pdf_parser_spark.fixtures import PdfBuilder
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R>>")
    b.add_stream(4, b"", b"truex Tj")
    res = extract_text(b.build())
    assert res["parse_error"] is not None
    assert "UndefinedKeyword" in res["parse_error"]
    assert "TypeError" not in res["parse_error"]


def test_xref_stream_array_decode_parms():
    """An XRef stream whose /Filter and /DecodeParms are the
    spec-legal one-element arrays (§7.3.8.2) decodes like the dict
    form: the predictor parameters reach the Flate decoder."""
    pdf, golden = get_fixture("pdf-xrefstream")
    dict_form = (b"/Filter /FlateDecode "
                 b"/DecodeParms <</Predictor 12 /Columns 4>>")
    array_form = (b"/Filter [/FlateDecode] "
                  b"/DecodeParms [<</Predictor 12 /Columns 4>>]")
    assert pdf.count(dict_form) == 1
    res = extract_text(pdf.replace(dict_form, array_form))
    assert res["parse_error"] is None, res["parse_error"]
    assert res["text"] == golden["text"] == "XRef stream works"


# Per-fixture parsed-object-count goldens: pinned so a kernel change
# that silently skips (or double-parses) objects while leaving
# text/pages/spans identical is still caught. ex08's driver oracle
# covers text_md5/len/pages/spans; object counts live here because the
# golden builder has no kernel-independent way to derive them.
N_OBJECTS_GOLDEN = {
    "pdf-cmap": 6,
    "pdf-encoding-diff": 6,
    "pdf-flate-text": 6,
    "pdf-image-dct": 4,
    "pdf-image-dct-prog": 4,
    "pdf-image-dct-smask": 4,
    "pdf-image-flate": 5,
    "pdf-image-inline": 5,
    "pdf-incremental": 5,
    "pdf-large": 43,
    "pdf-lzw-text": 5,
    "pdf-min-text": 5,
    "pdf-multipage": 10,
    "pdf-objstm": 6,
    "pdf-tj-array": 6,
    "pdf-xrefstream": 5,
}


def test_fixture_n_objects_golden():
    from pdf_parser_spark.fixtures import FIXTURES, get_fixture
    from pdf_parser_spark.kernel.extract import extract_text

    assert set(N_OBJECTS_GOLDEN) == set(FIXTURES)
    for fid, want in N_OBJECTS_GOLDEN.items():
        buf, _g = get_fixture(fid)
        res = extract_text(buf)
        assert res["parse_error"] is None, fid
        assert res["n_objects"] == want, fid


def test_pos_lexer_backtrack_error_offset():
    """Regression (round-3 review): under the pos cursor, a bare 'R'
    backtrack failure must report an offset at/after the scan base,
    not offset 0 of the buffer."""
    import pytest

    from pdf_parser_spark.kernel.cos import Lexer, LexerError

    pad = b" " * 5000
    buf = pad + b"R"
    with pytest.raises(LexerError) as ei:
        Lexer(buf, 0, pos=5000).tokenize()
    assert ei.value.offset == 5000
    # slice form agrees (kind and relative position)
    with pytest.raises(LexerError) as ei2:
        Lexer(buf[5000:], 5000).tokenize()
    assert ei2.value.kind == ei.value.kind
    assert ei2.value.offset == 5000


@pytest.mark.parametrize("seed", [0, 7, 123])
def test_seeded_flate_fixture_golden(seed):
    """The bench dedup-lever's realistic corpus generator (multi-page
    Flate, parameterized by seed) extracts exactly its golden text —
    the lever measurement is only meaningful if its payloads parse
    cleanly at realistic per-byte cost."""
    from pdf_parser_spark.fixtures import pdf_seeded_flate

    pdf, golden = pdf_seeded_flate(seed)
    res = extract_text(pdf)
    assert res["parse_error"] is None, res["parse_error"]
    assert res["text"] == golden["text"]
    assert res["n_pages"] == golden["n_pages"]
    assert len(res["spans"]) == golden["n_spans"]
    # distinct seeds produce distinct payloads (dup-factor accounting)
    assert pdf != pdf_seeded_flate(seed + 1)[0]


@pytest.mark.parametrize("size", [b"/x", b"9" * 400],
                         ids=["name", "huge"])
def test_font_size_operand_never_fails_page(size):
    """The font size is never used, so a name in its place (``/F1 /x
    Tf``) or a number too large for a float must not fail the
    document: the text still extracts, as the token-loop oracle emits
    it."""
    from pdf_parser_spark.fixtures import PdfBuilder, _scaffold

    b = PdfBuilder()
    _scaffold(b)
    b.add_stream(4, b"", b"BT /F1 " + size + b" Tf 72 720 Td (hi) Tj ET")
    res = extract_text(b.build())
    assert res["parse_error"] is None
    assert res["text"] == "hi"


def test_kernel_drops_zip_import_finders(cached_zip_finder, capture_kernel):
    """A reused pyspark worker calls ``importlib.invalidate_caches()``
    before every task, and each cached zip finder re-reads its whole
    archive there. A drained extraction kernel leaves no zip finder
    cached, and modules still import from the zip afterwards."""
    import pyarrow as pa

    from pdf_parser_spark.operators.extraction import extract_turns

    pdf, golden = get_fixture("pdf-min-text")
    batch = pa.RecordBatch.from_pydict({
        "conv_id": ["c"], "turn_idx": [0],
        "text": [pdf.decode("latin-1")]})

    out = list(extract_turns(capture_kernel)(iter([batch])))

    assert out[0].column("text").to_pylist() == [golden["text"]]
    cached_zip_finder()


def _turns_batch(texts):
    import pyarrow as pa

    return pa.RecordBatch.from_pydict({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": list(range(len(texts))), "text": texts})


def test_batch_kernel_rows_equal_one_row_batches(capture_kernel):
    """Rows that share a payload in one batch get the same rows as each
    payload extracted in a batch of its own, NULL, empty and
    non-latin-1 text included."""
    from pdf_parser_spark.operators.extraction import extract_turns

    a = get_fixture("pdf-flate-text")[0].decode("latin-1")
    b = get_fixture("pdf-tj-array")[0].decode("latin-1")
    broken = get_fixture("pdf-broken-truncated")[0].decode("latin-1")
    texts = [a, b, a, None, "", "caf€", broken, b, a, None, broken]
    kernel = extract_turns(capture_kernel)

    [out] = kernel(iter([_turns_batch(texts)]))
    single = [row for i in range(len(texts))
              for ob in kernel(iter([_turns_batch(texts).slice(i, 1)]))
              for row in ob.to_pylist()]

    assert out.to_pylist() == single
    assert [r["parse_error"] for r in single[3:6]] == \
        ["EmptyOrNonLatin1Payload"] * 3
    assert single[0]["spans"] and single[0]["text"] == single[8]["text"]


def test_batch_kernel_runs_once_per_distinct_payload(capture_kernel,
                                                     monkeypatch):
    """Six rows over two distinct payloads call ``extract_text`` twice,
    and every row still gets its payload's result."""
    from pdf_parser_spark.kernel import extract
    from pdf_parser_spark.operators.extraction import extract_turns

    calls = []

    def counting(data, **kw):
        calls.append(data)
        return extract_text(data, **kw)

    monkeypatch.setattr(extract, "extract_text", counting)
    pdfs = [get_fixture(f) for f in ("pdf-min-text", "pdf-multipage")]
    texts = [pdfs[i][0].decode("latin-1") for i in (0, 1, 1, 0, 0, 1)]

    [out] = extract_turns(capture_kernel)(iter([_turns_batch(texts)]))

    assert sorted(calls) == sorted(pdf for pdf, _golden in pdfs)
    assert out.column("text").to_pylist() == \
        [pdfs[i][1]["text"] for i in (0, 1, 1, 0, 0, 1)]


def test_image_kernel_gives_every_row_its_images(capture_kernel):
    """A payload repeated in one batch yields its image rows once for
    each turn that carries it, keyed by that turn."""
    from pdf_parser_spark.operators.extraction import extract_images

    pdf = get_fixture("pdf-image-flate")[0].decode("latin-1")
    kernel = extract_images(capture_kernel)

    [one] = kernel(iter([_turns_batch([pdf])]))
    [out] = kernel(iter([_turns_batch([pdf, None, pdf, pdf])]))

    images = [{k: v for k, v in r.items() if k not in ("conv_id", "turn_idx")}
              for r in one.to_pylist()]
    assert images
    assert out.to_pylist() == [
        {"conv_id": f"c{i}", "turn_idx": i, **img}
        for i in (0, 2, 3) for img in images]
