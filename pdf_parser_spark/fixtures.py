"""Deterministic whole-PDF fixture factory (FIXTURES.md §5).

Hand-assembled, spec-valid PDF byte buffers with known golden
extractions — no external data, no pdf libs, no randomness. Each fixture
function returns ``(pdf_bytes, golden)`` where golden is a dict with the
expected ``text``, ``n_pages`` and ``n_spans``. The corpus doubles as a
spec test of the writer side of the grammar.

These are the turn payloads for the synthetic transcript ``turns`` table:
``fixture_for(conv_id, turn_idx)`` picks deterministically.
"""

from __future__ import annotations

import zlib


def lit(s: str) -> bytes:
    """Encode a literal string body, escaping \\ ( )."""
    out = s.encode("latin-1")
    out = out.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
    out = out.replace(b")", b"\\)")
    return b"(" + out + b")"


class PdfBuilder:
    """Assemble a classic-xref PDF from numbered objects."""

    def __init__(self, version: bytes = b"1.4"):
        self.version = version
        self.objects: dict[int, bytes] = {}

    def add(self, num: int, body: bytes) -> int:
        self.objects[num] = body
        return num

    def add_stream(self, num: int, dict_extra: bytes, data: bytes,
                   length_ref: int | None = None) -> int:
        """Stream object; /Length direct unless ``length_ref`` names an
        object number to hold it indirectly (ref src/object.rs:545-566)."""
        if length_ref is None:
            d = b"<<" + dict_extra + b" /Length " + str(len(data)).encode() + b">>"
        else:
            d = (b"<<" + dict_extra + b" /Length " + str(length_ref).encode()
                 + b" 0 R>>")
            self.add(length_ref, str(len(data)).encode())
        self.objects[num] = d + b"\nstream\n" + data + b"\nendstream"
        return num

    def build(self, root: int = 1, trailer_extra: bytes = b"") -> bytes:
        out = bytearray(b"%PDF-" + self.version + b"\n")
        offsets: dict[int, int] = {}
        for num in sorted(self.objects):
            offsets[num] = len(out)
            out += (str(num).encode() + b" 0 obj\n" + self.objects[num]
                    + b"\nendobj\n")
        xref_off = len(out)
        max_num = max(self.objects)
        out += b"xref\n0 " + str(max_num + 1).encode() + b"\n"
        out += b"0000000000 65535 f \n"
        for num in range(1, max_num + 1):
            if num in offsets:
                out += b"%010d 00000 n \n" % offsets[num]
            else:
                out += b"0000000000 65535 f \n"
        out += (b"trailer\n<</Size " + str(max_num + 1).encode()
                + b" /Root " + str(root).encode() + b" 0 R"
                + trailer_extra + b">>\n"
                + b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n")
        return bytes(out)

    def build_with_xref_stream(self, root: int = 1,
                               predictor: bool = True) -> bytes:
        """[EXTENSION] emit an XRef *stream* (W=[1 2 1]) instead of the
        classic table; optional PNG Up-predictor (12) encoding."""
        xref_num = max(self.objects) + 1
        out = bytearray(b"%PDF-1.5\n")
        offsets: dict[int, int] = {}
        for num in sorted(self.objects):
            offsets[num] = len(out)
            out += (str(num).encode() + b" 0 obj\n" + self.objects[num]
                    + b"\nendobj\n")
        xref_off = len(out)
        size = xref_num + 1
        rows = []
        for num in range(size):
            if num == 0:
                rows.append(bytes([0]) + (0).to_bytes(2, "big") + bytes([255]))
            elif num == xref_num:
                rows.append(bytes([1]) + xref_off.to_bytes(2, "big")
                            + bytes([0]))
            elif num in offsets:
                rows.append(bytes([1]) + offsets[num].to_bytes(2, "big")
                            + bytes([0]))
            else:
                rows.append(bytes([0]) + (0).to_bytes(2, "big") + bytes([0]))
        if predictor:
            enc = bytearray()
            prev = bytes(4)
            for row in rows:
                enc.append(2)  # Up
                enc += bytes((row[i] - prev[i]) & 0xFF for i in range(4))
                prev = row
            data = zlib.compress(bytes(enc))
            parms = b" /DecodeParms <</Predictor 12 /Columns 4>>"
        else:
            data = zlib.compress(b"".join(rows))
            parms = b""
        d = (b"<</Type /XRef /Size " + str(size).encode()
             + b" /Root " + str(root).encode() + b" 0 R"
             + b" /W [1 2 1] /Filter /FlateDecode" + parms
             + b" /Length " + str(len(data)).encode() + b">>")
        out += (str(xref_num).encode() + b" 0 obj\n" + d
                + b"\nstream\n" + data + b"\nendstream\nendobj\n")
        out += (b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n")
        return bytes(out)


def _scaffold(b: PdfBuilder, content_obj: int = 4,
              font_extra: bytes = b"") -> None:
    """Catalog(1) -> Pages(2) -> Page(3) with Contents 4 0 R, font F1=5."""
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1 "
             b"/MediaBox [0 0 612 792]>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents "
             + str(content_obj).encode() + b" 0 R "
             b"/Resources <</Font <</F1 5 0 R>>>>>>")
    b.add(5, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica"
             + font_extra + b">>")


# ------------------------------------------------------------- fixtures

def pdf_min_text():
    """Happy path: classic xref, uncompressed content (FIXTURES.md §5)."""
    b = PdfBuilder()
    _scaffold(b)
    content = b"BT /F1 12 Tf 72 720 Td " + lit("Hello") + b" Tj ET"
    b.add_stream(4, b"", content)
    return b.build(), {"text": "Hello", "n_pages": 1, "n_spans": 1}


def pdf_seeded_text(seed: int, lines: int = 8, words_per_line: int = 30):
    """Parameterized distinct-payload fixture (bench.py dedup lever,
    duplication-factor corpora): same structure as ``pdf_min_text`` but
    the content text varies with ``seed``, so any number of DISTINCT
    payloads can be generated deterministically. Default sizing makes
    the extraction kernel's per-payload cost comparable to a real
    transcript page (multiple spans, ~1.5 KB of content) rather than a
    trivial one-span doc."""
    b = PdfBuilder()
    _scaffold(b)
    parts = [b"BT /F1 12 Tf 72 760 Td"]
    texts = []
    for ln in range(lines):
        t = f"L{ln} " + " ".join(
            f"w{(seed * 31 + ln * 97 + i) % 9973}"
            for i in range(words_per_line))
        texts.append(t)
        parts.append(b" 0 -14 Td " + lit(t) + b" Tj")
    parts.append(b" ET")
    b.add_stream(4, b"", b"".join(parts))
    return b.build(), {"text": "\n".join(texts), "n_pages": 1,
                       "n_spans": lines}


def pdf_seeded_flate(seed: int, n_pages: int = 12, n_lines: int = 40):
    """Distinct-payload fixture at REALISTIC per-byte kernel cost
    (~3.4 MB/s/core vs ~5.5 for ``pdf_seeded_text``): multi-page,
    Flate-compressed streams — parsed content is larger than file
    bytes, like real transcript PDFs (the ``pdf_large`` shape,
    parameterized by ``seed``). Used by bench.py's dedup-lever stage
    so the dedup-vs-direct economics are measured where they matter:
    the lever trades kernel cost per PARSED byte against shuffle cost
    per FILE byte."""
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    kids = b" ".join(b"%d 0 R" % (10 + i) for i in range(n_pages))
    b.add(2, b"<</Type /Pages /Kids [" + kids + b"] /Count "
             + str(n_pages).encode() + b" /MediaBox [0 0 612 792]"
             b" /Resources <</Font <</F1 3 0 R>>>>>>")
    b.add(3, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    texts = []
    for i in range(n_pages):
        ops = [b"BT /F1 10 Tf 72 760 Td"]
        for j in range(n_lines):
            line = "p%02d l%02d " % (i, j) + " ".join(
                f"w{(seed * 131 + i * 97 + j * 17 + k * 7) % 99991}"
                for k in range(8))
            ops.append(lit(line) + b" Tj 0 -18 Td")
            texts.append(line)
        ops.append(b"ET")
        b.add_stream(100 + i, b"/Filter /FlateDecode",
                     zlib.compress(b"\n".join(ops)))
        b.add(10 + i, b"<</Type /Page /Parent 2 0 R /Contents "
                      + str(100 + i).encode() + b" 0 R>>")
    return b.build(), {"text": "\n".join(texts), "n_pages": n_pages,
                       "n_spans": n_pages * n_lines}


def pdf_flate_text():
    """FlateDecode content stream with INDIRECT /Length
    (ref src/object.rs:545-566 semantics)."""
    b = PdfBuilder()
    _scaffold(b)
    content = zlib.compress(
        b"BT /F1 12 Tf 72 720 Td " + lit("Hello, Flate!") + b" Tj ET")
    b.add_stream(4, b"/Filter /FlateDecode", content, length_ref=6)
    return b.build(), {"text": "Hello, Flate!", "n_pages": 1, "n_spans": 1}


def pdf_multipage():
    """2-level page tree: Pages -> [Pages -> [Page, Page], Page]; DFS
    preorder numbering (ref src/page_tree.rs:91-133)."""
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [10 0 R 5 0 R] /Count 3 "
             b"/MediaBox [0 0 612 792] "
             b"/Resources <</Font <</F1 9 0 R>>>>>>")
    b.add(10, b"<</Type /Pages /Parent 2 0 R /Kids [3 0 R 4 0 R] "
              b"/Count 2>>")
    b.add(3, b"<</Type /Page /Parent 10 0 R /Contents 6 0 R>>")
    b.add(4, b"<</Type /Page /Parent 10 0 R /Contents 7 0 R>>")
    b.add(5, b"<</Type /Page /Parent 2 0 R /Contents 8 0 R>>")
    for i, obj in ((1, 6), (2, 7), (3, 8)):
        content = (b"BT /F1 12 Tf 72 720 Td " + lit(f"Page {i}")
                   + b" Tj 0 -20 Td " + lit("Line two") + b" Tj ET")
        b.add_stream(obj, b"", content)
    b.add(9, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    text = "\n".join(f"Page {i}\nLine two" for i in (1, 2, 3))
    return b.build(), {"text": text, "n_pages": 3, "n_spans": 6}


def pdf_tj_array():
    """TJ with kerning (space at <= -180 thousandths), Tm positioning,
    two fonts ([EXTENSION] text ops, FIXTURES.md §5)."""
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
             b"<</Font <</F1 5 0 R /F2 6 0 R>>>>>>")
    b.add(5, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    b.add(6, b"<</Type /Font /Subtype /Type1 /BaseFont /Times-Roman>>")
    content = (b"BT /F1 12 Tf 1 0 0 1 72 720 Tm "
               b"[" + lit("He") + b" -50 " + lit("llo") + b" -250 "
               + lit("World") + b"] TJ "
               b"/F2 10 Tf 1 0 0 1 72 700 Tm " + lit("Second font")
               + b" Tj ET")
    b.add_stream(4, b"", content)
    return b.build(), {"text": "Hello World\nSecond font",
                       "n_pages": 1, "n_spans": 2}


def pdf_cmap():
    """/ToUnicode CMap (bfchar + bfrange), hex-string shown text
    ([EXTENSION] §9.10.3)."""
    b = PdfBuilder()
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"12 dict begin\nbegincmap\n"
            b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
            b"1 beginbfchar\n<21> <263A>\nendbfchar\n"
            b"1 beginbfrange\n<61> <7A> <0041>\nendbfrange\n"
            b"endcmap\nend\nend\n")
    _scaffold(b, font_extra=b" /ToUnicode 6 0 R")
    b.add_stream(6, b"", cmap)
    # 'hello' lowercase codes -> mapped to 'HELLO'; '!' (0x21) -> U+263A
    content = (b"BT /F1 12 Tf 72 720 Td <68656C6C6F> Tj "
               b"0 -20 Td <21> Tj ET")
    b.add_stream(4, b"", content)
    return b.build(), {"text": "HELLO\n☺", "n_pages": 1, "n_spans": 2}


def pdf_encoding_diff():
    """/Encoding /Differences remap ([EXTENSION] §9.6.6): codes 72,73
    ('H','I') remapped to glyphs G,H -> shown (HI) reads 'GH'."""
    b = PdfBuilder()
    _scaffold(b, font_extra=b" /Encoding 6 0 R")
    b.add(6, b"<</Type /Encoding /BaseEncoding /WinAnsiEncoding "
             b"/Differences [72 /G /H]>>")
    content = b"BT /F1 12 Tf 72 720 Td " + lit("HI") + b" Tj ET"
    b.add_stream(4, b"", content)
    return b.build(), {"text": "GH", "n_pages": 1, "n_spans": 1}


IMG_RGB_2X2 = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 0])


def pdf_image_flate():
    """XObject image, DeviceRGB, FlateDecode, 2x2 known pixels
    (D1-D6 parity, ref src/image.rs)."""
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
             b"<</Font <</F1 5 0 R>> /XObject <</Im1 6 0 R>>>>>>")
    b.add(5, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    content = (b"BT /F1 12 Tf 72 720 Td " + lit("img page") + b" Tj ET\n"
               b"q 100 0 0 100 72 600 cm /Im1 Do Q")
    b.add_stream(4, b"", content)
    b.add_stream(6, b"/Subtype /Image /Width 2 /Height 2 "
                    b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                    b"/Filter /FlateDecode", zlib.compress(IMG_RGB_2X2))
    return b.build(), {"text": "img page", "n_pages": 1, "n_spans": 1,
                       "n_images": 1, "image_data": IMG_RGB_2X2,
                       "images": [{"page": 1, "name": "Im1", "width": 2,
                                   "height": 2,
                                   "colorspace": "DeviceRGB",
                                   "format": "raw-rgb",
                                   "data": IMG_RGB_2X2}]}


# 16x8 DeviceGray, two flat 8x8 blocks (40 | 200): DC-only blocks with
# unit quantization decode exactly in every conforming decoder, so the
# expected pixels are known analytically — true DCT pixel parity
# (ref src/image.rs:140-143 decodes with jpeg_decoder; same raster).
IMG_GRAY_DCT = bytes([40] * 8 + [200] * 8) * 8


def _dct_jpeg_gray() -> bytes:
    from .kernel.jpegdec import encode_baseline_jpeg
    return encode_baseline_jpeg(IMG_GRAY_DCT, 16, 8, 1)


def pdf_image_dct():
    """Baseline-JPEG (DCTDecode) image with analytically known pixels:
    decoded raster must equal IMG_GRAY_DCT expanded Gray->RGB."""
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
             b"<</XObject <</Im1 6 0 R>>>>>>")
    b.add_stream(4, b"", b"q 16 0 0 8 0 0 cm /Im1 Do Q")
    b.add_stream(6, b"/Subtype /Image /Width 16 /Height 8 "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                    b"/Filter /DCTDecode", _dct_jpeg_gray())
    rgb = bytes(v for p in IMG_GRAY_DCT for v in (p, p, p))
    return b.build(), {"text": "", "n_pages": 1, "n_spans": 0,
                       "n_images": 1, "image_format": "raw-rgb",
                       "image_data": rgb,
                       "images": [{"page": 1, "name": "Im1", "width": 16,
                                   "height": 8,
                                   "colorspace": "DeviceGray",
                                   "format": "raw-rgb", "data": rgb}]}


def _dct_jpeg_gray_progressive() -> bytes:
    from .kernel.jpegdec import encode_progressive_jpeg
    return encode_progressive_jpeg(IMG_GRAY_DCT, 16, 8, 1)


def pdf_image_dct_progressive():
    """PROGRESSIVE (SOF2) DCTDecode image: spectral-selection scans
    over the same flat blocks as pdf-image-dct — must decode to the
    identical analytically known raster."""
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
             b"<</XObject <</Im1 6 0 R>>>>>>")
    b.add_stream(4, b"", b"q 16 0 0 8 0 0 cm /Im1 Do Q")
    b.add_stream(6, b"/Subtype /Image /Width 16 /Height 8 "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                    b"/Filter /DCTDecode", _dct_jpeg_gray_progressive())
    rgb = bytes(v for p in IMG_GRAY_DCT for v in (p, p, p))
    return b.build(), {"text": "", "n_pages": 1, "n_spans": 0,
                       "n_images": 1, "image_format": "raw-rgb",
                       "image_data": rgb,
                       "images": [{"page": 1, "name": "Im1", "width": 16,
                                   "height": 8,
                                   "colorspace": "DeviceGray",
                                   "format": "raw-rgb", "data": rgb}]}


FAKE_JPEG = b"\xff\xd8\xff\xe0fake-jpeg-payload\xff\xd9"


def pdf_image_dct_smask():
    """DCT image with an /SMask pair: the mask XObject must be excluded
    by the two-pass anti-join (ref src/page.rs:51-74)."""
    b = PdfBuilder()
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    b.add(2, b"<</Type /Pages /Kids [3 0 R] /Count 1>>")
    b.add(3, b"<</Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
             b"<</XObject <</Im1 6 0 R /Im2 7 0 R>>>>>>")
    b.add_stream(4, b"", b"q 10 0 0 10 0 0 cm /Im1 Do Q")
    b.add_stream(6, b"/Subtype /Image /Width 2 /Height 2 "
                    b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                    b"/Filter /DCTDecode /SMask 7 0 R", FAKE_JPEG)
    b.add_stream(7, b"/Subtype /Image /Width 2 /Height 2 "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                    b"/Filter /FlateDecode",
                 zlib.compress(bytes([0, 64, 128, 255])))
    return b.build(), {"text": "", "n_pages": 1, "n_spans": 0,
                       "n_images": 1, "image_format": "jpeg",
                       "images": [{"page": 1, "name": "Im1", "width": 2,
                                   "height": 2,
                                   "colorspace": "DeviceRGB",
                                   "format": "jpeg",
                                   "data": FAKE_JPEG}]}


# 4x4 DeviceGray inline raster; values avoid the b"EI" byte pair
IMG_GRAY_INLINE = bytes(range(0, 256, 16))


def pdf_image_inline():
    """Inline images (BI..ID..EI, §8.9.7 [EXTENSION] — the reference
    ignores them): one raw DeviceGray with abbreviated keys, one
    FlateDecode DeviceRGB, both in the same content stream as text.
    Inline rasters flow through the same D1-D6 assembly as XObjects."""
    b = PdfBuilder()
    _scaffold(b)
    flate_rgb = zlib.compress(IMG_RGB_2X2)
    assert b"EI" not in flate_rgb  # would break the data delimiter
    content = (b"BT /F1 12 Tf 72 720 Td " + lit("inline img") + b" Tj ET\n"
               b"q 4 0 0 4 100 600 cm\n"
               b"BI /W 4 /H 4 /CS /G /BPC 8 ID " + IMG_GRAY_INLINE
               + b" EI Q\n"
               b"q 2 0 0 2 200 600 cm\n"
               b"BI /W 2 /H 2 /CS /RGB /BPC 8 /F /Fl ID " + flate_rgb
               + b" EI Q")
    b.add_stream(4, b"", content)
    gray_rgb = bytes(v for px in IMG_GRAY_INLINE for v in (px, px, px))
    return b.build(), {"text": "inline img", "n_pages": 1, "n_spans": 1,
                       "n_images": 2,
                       "images": [{"page": 1, "name": "BI1", "width": 4,
                                   "height": 4,
                                   "colorspace": "DeviceGray",
                                   "format": "raw-rgb",
                                   "data": gray_rgb},
                                  {"page": 1, "name": "BI2", "width": 2,
                                   "height": 2,
                                   "colorspace": "DeviceRGB",
                                   "format": "raw-rgb",
                                   "data": IMG_RGB_2X2}]}


def pdf_xrefstream():
    """XRef stream (/Type/XRef, W=[1 2 1], PNG Up predictor 12) instead
    of a classic table ([EXTENSION] §7.5.8)."""
    b = PdfBuilder()
    _scaffold(b)
    content = (b"BT /F1 12 Tf 72 720 Td " + lit("XRef stream works")
               + b" Tj ET")
    b.add_stream(4, b"", content)
    return (b.build_with_xref_stream(),
            {"text": "XRef stream works", "n_pages": 1, "n_spans": 1})


def pdf_objstm():
    """Catalog/Pages/Page/Font packed in an ObjStm ([EXTENSION] §7.5.7),
    referenced from an XRef stream with type-2 entries."""
    inner = {
        1: b"<</Type /Catalog /Pages 2 0 R>>",
        2: b"<</Type /Pages /Kids [3 0 R] /Count 1>>",
        3: b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources <</Font <</F1 5 0 R>>>>>>",
        5: b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>",
    }
    pairs = []
    bodies = bytearray()
    for num, body in inner.items():
        pairs.append(f"{num} {len(bodies)}".encode())
        bodies += body + b"\n"
    header = b" ".join(pairs) + b"\n"
    objstm_data = header + bytes(bodies)
    first = len(header)

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    # 4: content stream (streams cannot live inside an ObjStm)
    content = b"BT /F1 12 Tf 72 720 Td " + lit("ObjStm works") + b" Tj ET"
    offsets[4] = len(out)
    out += (b"4 0 obj\n<</Length " + str(len(content)).encode()
            + b">>\nstream\n" + content + b"\nendstream\nendobj\n")
    # 6: the object stream
    comp = zlib.compress(objstm_data)
    offsets[6] = len(out)
    out += (b"6 0 obj\n<</Type /ObjStm /N " + str(len(inner)).encode()
            + b" /First " + str(first).encode()
            + b" /Filter /FlateDecode /Length " + str(len(comp)).encode()
            + b">>\nstream\n" + comp + b"\nendstream\nendobj\n")
    # 7: xref stream. type-2 rows point into ObjStm 6
    xref_off = len(out)
    size = 8
    rows = [bytes([0, 0, 0, 255])]  # obj 0 free
    for num in range(1, size):
        if num in (1, 2, 3, 5):
            idx = list(inner).index(num)
            rows.append(bytes([2]) + (6).to_bytes(2, "big") + bytes([idx]))
        elif num in offsets:
            rows.append(bytes([1]) + offsets[num].to_bytes(2, "big")
                        + bytes([0]))
        elif num == 7:
            rows.append(bytes([1]) + xref_off.to_bytes(2, "big") + bytes([0]))
        else:
            rows.append(bytes([0, 0, 0, 0]))
    data = zlib.compress(b"".join(rows))
    out += (b"7 0 obj\n<</Type /XRef /Size " + str(size).encode()
            + b" /Root 1 0 R /W [1 2 1] /Filter /FlateDecode /Length "
            + str(len(data)).encode() + b">>\nstream\n" + data
            + b"\nendstream\nendobj\n")
    out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    return bytes(out), {"text": "ObjStm works", "n_pages": 1, "n_spans": 1}


def pdf_incremental():
    """Two generations: an incremental update replaces the content
    stream; new xref has a free entry and /Prev chains to the old table.
    The reference panics on both (src/cross_reference.rs:67-68, 162-164);
    we must not (SURVEY.md §2.7.6)."""
    b = PdfBuilder()
    _scaffold(b)
    content0 = b"BT /F1 12 Tf 72 720 Td " + lit("Original text") + b" Tj ET"
    b.add_stream(4, b"", content0)
    base = bytearray(b.build())
    old_xref_off = int(base.rstrip().rsplit(b"startxref", 1)[1]
                       .split(b"%%EOF")[0].strip())

    # appended generation: new object 4, a freed object 5 is NOT freed
    # (font still needed) — free a dummy object 6 instead
    content1 = b"BT /F1 12 Tf 72 720 Td " + lit("Updated text") + b" Tj ET"
    new4_off = len(base)
    base += (b"4 0 obj\n<</Length " + str(len(content1)).encode()
             + b">>\nstream\n" + content1 + b"\nendstream\nendobj\n")
    xref_off = len(base)
    base += b"xref\n0 1\n0000000000 65535 f \n"
    base += b"4 1\n" + b"%010d 00000 n \n" % new4_off
    base += b"6 1\n0000000000 00001 f \n"
    base += (b"trailer\n<</Size 7 /Root 1 0 R /Prev "
             + str(old_xref_off).encode() + b">>\nstartxref\n"
             + str(xref_off).encode() + b"\n%%EOF\n")
    return bytes(base), {"text": "Updated text", "n_pages": 1, "n_spans": 1}


def pdf_lzw_text():
    """LZWDecode content stream ([EXTENSION] §7.4.4)."""
    b = PdfBuilder()
    _scaffold(b)
    raw = b"BT /F1 12 Tf 72 720 Td " + lit("LZW works") + b" Tj ET"
    b.add_stream(4, b"/Filter /LZWDecode", _lzw_encode(raw))
    return b.build(), {"text": "LZW works", "n_pages": 1, "n_spans": 1}


def _lzw_encode(data: bytes) -> bytes:
    """Minimal PDF-flavored LZW encoder (EarlyChange=1) for fixtures."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    code_width = 9
    out_bits: list[tuple[int, int]] = [(256, 9)]  # ClearTable first
    w = b""
    for byte in data:
        c = w + bytes([byte])
        if c in table:
            w = c
        else:
            out_bits.append((table[w], code_width))
            table[c] = next_code
            next_code += 1
            # EarlyChange: width bumps one code early
            if next_code + 1 - 1 >= (1 << code_width) and code_width < 12:
                code_width += 1
            w = bytes([byte])
    if w:
        out_bits.append((table[w], code_width))
    out_bits.append((257, code_width))  # EOD
    acc = 0
    nbits = 0
    out = bytearray()
    for code, width in out_bits:
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def pdf_large():
    """Realistic-size document: 20 pages x 40 Flate-compressed text
    lines (~25 KB) so throughput benchmarks measure parsing, not
    per-document overhead. Deterministic content."""
    b = PdfBuilder()
    n_pages = 20
    n_lines = 40
    b.add(1, b"<</Type /Catalog /Pages 2 0 R>>")
    kids = b" ".join(b"%d 0 R" % (10 + i) for i in range(n_pages))
    b.add(2, b"<</Type /Pages /Kids [" + kids + b"] /Count "
             + str(n_pages).encode()
             + b" /MediaBox [0 0 612 792]"
             + b" /Resources <</Font <</F1 3 0 R>>>>>>")
    b.add(3, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    texts = []
    for i in range(n_pages):
        ops = [b"BT /F1 10 Tf 72 760 Td"]
        for j in range(n_lines):
            line = "page %02d line %02d: the quick brown fox %04d" % (
                i + 1, j, (i * 131 + j * 17) % 9973)
            ops.append(lit(line) + b" Tj 0 -18 Td")
            texts.append(line)
        ops.append(b"ET")
        content = b" ".join(ops)
        b.add_stream(100 + i, b" /Filter /FlateDecode",
                     zlib.compress(content))
        b.add(10 + i, b"<</Type /Page /Parent 2 0 R /Contents "
                      + str(100 + i).encode() + b" 0 R>>")
    golden = "\n".join(texts)
    return b.build(), {"text": golden, "n_pages": n_pages,
                       "n_spans": n_pages * n_lines}


def pdf_broken_header():
    pdf, _ = pdf_min_text()
    return b"%NOT-A-PDF" + pdf[8:], {"error": True}


def pdf_broken_truncated():
    pdf, _ = pdf_min_text()
    return pdf[:-60], {"error": True}


def pdf_broken_bad_length():
    b = PdfBuilder()
    _scaffold(b)
    content = b"BT /F1 12 Tf 72 720 Td " + lit("x") + b" Tj ET"
    b.add(4, b"<</Length 99999>>\nstream\n" + content + b"\nendstream")
    return b.build(), {"error": True}


def pdf_encrypted_rc4(r: int = 2):
    """Genuinely RC4-encrypted PDF (forward encryption done here, the
    long way) with an EMPTY user password — the recoverable class
    kernel/crypt.py decrypts. ``r=2`` → V1 40-bit; ``r=3`` → V2 with
    /Length 128; ``r=4`` → V4 crypt filters (/StdCF CFM /V2, StmF and
    StrF both StdCF). Returns the usual (pdf_bytes, golden) pair;
    golden text must extract exactly (kernel parity gate for the
    decryptor). Also plants an encrypted HEX string as object 8 so
    string decryption (§7.6.2) is covered, not just stream bodies."""
    import hashlib

    from pdf_parser_spark.kernel.crypt import PAD, rc4

    o = bytes(range(32))
    p = -44
    id0 = bytes.fromhex("00112233445566778899aabbccddeeff")
    key_len = 5 if r == 2 else 16
    h = hashlib.md5(PAD + o + (p & 0xFFFFFFFF).to_bytes(4, "little")
                    + id0).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:key_len]).digest()
    key = h[:key_len]
    if r == 2:
        u = rc4(key, PAD)
    else:
        step = hashlib.md5(PAD + id0).digest()
        for i in range(20):
            step = rc4(bytes(bb ^ i for bb in key), step)
        u = step + bytes(16)  # 32 on disk; only the first 16 compared

    def objkey(num: int, gen: int = 0) -> bytes:
        return hashlib.md5(
            key + num.to_bytes(3, "little")
            + gen.to_bytes(2, "little")).digest()[:min(key_len + 5, 16)]

    b = PdfBuilder()
    _scaffold(b)
    text = "rc4 secret text"
    content = b"BT /F1 12 Tf 72 720 Td " + lit(text) + b" Tj ET"
    b.add_stream(4, b"", rc4(objkey(4), content))
    b.add(8, b"<" + rc4(objkey(8), b"plain string").hex().encode() + b">")
    if r == 2:
        enc = b"<</Filter /Standard /V 1 /R 2"
    elif r == 3:
        enc = b"<</Filter /Standard /V 2 /R 3 /Length 128"
    else:
        enc = (b"<</Filter /Standard /V 4 /R 4 /Length 128"
               b" /CF <</StdCF <</CFM /V2 /AuthEvent /DocOpen>>>>"
               b" /StmF /StdCF /StrF /StdCF")
    return _finish_encrypted(b, enc, o, u, id0, text)


def pdf_encrypted_aes(font_extra: bytes = b""):
    """Genuinely AES-128-CBC-encrypted PDF (V4 /R 4 /StdCF CFM
    /AESV2, the post-Acrobat-7 default) with an EMPTY user password:
    stream and string payloads are IV || CBC ciphertext with PKCS#7
    padding, per-object keys carry the 'sAlT' marker (§7.6.2).
    Forward-encrypted here with the module's own FIPS-197-pinned
    primitive; deterministic per-object IVs keep the fixture bytes
    stable. ``font_extra`` is appended to the font dict verbatim
    (not encrypted)."""
    import hashlib

    from pdf_parser_spark.kernel.crypt import PAD, aes128_cbc_encrypt, rc4

    o = bytes(range(32))
    p = -44
    id0 = bytes.fromhex("102132435465768798a9bacbdcedfe0f")
    key = hashlib.md5(PAD + o + (p & 0xFFFFFFFF).to_bytes(4, "little")
                      + id0).digest()
    for _ in range(50):
        key = hashlib.md5(key[:16]).digest()
    key = key[:16]
    step = hashlib.md5(PAD + id0).digest()
    for i in range(20):
        step = rc4(bytes(bb ^ i for bb in key), step)
    u = step + bytes(16)

    def enc_obj(num: int, data: bytes) -> bytes:
        objkey = hashlib.md5(key + num.to_bytes(3, "little")
                             + bytes(2) + b"sAlT").digest()[:16]
        iv = hashlib.md5(b"fixture-iv" + num.to_bytes(3, "little")
                         ).digest()
        return aes128_cbc_encrypt(objkey, iv, data)

    b = PdfBuilder()
    _scaffold(b, font_extra=font_extra)
    text = "aes secret text"
    content = b"BT /F1 12 Tf 72 720 Td " + lit(text) + b" Tj ET"
    b.add_stream(4, b"", enc_obj(4, content))
    b.add(8, b"<" + enc_obj(8, b"plain string").hex().encode() + b">")
    enc = (b"<</Filter /Standard /V 4 /R 4 /Length 128"
           b" /CF <</StdCF <</CFM /AESV2 /AuthEvent /DocOpen>>>>"
           b" /StmF /StdCF /StrF /StdCF")
    return _finish_encrypted(b, enc, o, u, id0, text)


def _finish_encrypted(b, enc: bytes, o: bytes, u: bytes, id0: bytes,
                      text: str):
    """Shared tail of the encrypted fixtures: Encrypt dict as object
    9 + trailer entries."""
    b.add(9, enc + b" /O <" + o.hex().encode()
             + b"> /U <" + u.hex().encode() + b"> /P -44>>")
    pdf = b.build(trailer_extra=b" /Encrypt 9 0 R /ID [<"
                                + id0.hex().encode() + b"> <"
                                + id0.hex().encode() + b">]")
    return pdf, {"text": text, "n_pages": 1, "n_spans": 1}


def pdf_encrypted():
    """Structurally valid PDF whose trailer carries /Encrypt (RC4 V1
    shape, §7.6.3). The content stream bytes here are NOT actually
    encrypted — the point is the probe: extraction must stop at the
    trailer with parse_error='encrypted' and never emit the (would-be
    ciphertext) text. Reference parity: the reference has no /Encrypt
    handling at all and would extract mojibake."""
    b = PdfBuilder()
    _scaffold(b)
    content = (b"BT /F1 12 Tf 72 720 Td "
               + lit("would be ciphertext") + b" Tj ET")
    b.add_stream(4, b"", content)
    b.add(9, b"<</Filter /Standard /V 1 /R 2 /O <"
             + b"00" * 32 + b"> /U <" + b"00" * 32 + b"> /P -44>>")
    return (b.build(trailer_extra=b" /Encrypt 9 0 R"
                                  b" /ID [<00112233> <44556677>]"),
            {"error": True, "parse_error": "encrypted"})


# ------------------------------------------------------ fixture registry

FIXTURES = {
    "pdf-min-text": pdf_min_text,
    "pdf-flate-text": pdf_flate_text,
    "pdf-multipage": pdf_multipage,
    "pdf-tj-array": pdf_tj_array,
    "pdf-cmap": pdf_cmap,
    "pdf-encoding-diff": pdf_encoding_diff,
    "pdf-image-flate": pdf_image_flate,
    "pdf-image-dct": pdf_image_dct,
    "pdf-image-dct-prog": pdf_image_dct_progressive,
    "pdf-image-dct-smask": pdf_image_dct_smask,
    "pdf-image-inline": pdf_image_inline,
    "pdf-xrefstream": pdf_xrefstream,
    "pdf-objstm": pdf_objstm,
    "pdf-incremental": pdf_incremental,
    "pdf-lzw-text": pdf_lzw_text,
    "pdf-large": pdf_large,
}

BROKEN_FIXTURES = {
    "pdf-broken-header": pdf_broken_header,
    "pdf-broken-truncated": pdf_broken_truncated,
    "pdf-broken-bad-length": pdf_broken_bad_length,
    "pdf-encrypted": pdf_encrypted,
}

_FIXTURE_IDS = sorted(FIXTURES)
_CACHE: dict[str, tuple[bytes, dict]] = {}


def get_fixture(fixture_id: str) -> tuple[bytes, dict]:
    if fixture_id not in _CACHE:
        fn = FIXTURES.get(fixture_id) or BROKEN_FIXTURES[fixture_id]
        _CACHE[fixture_id] = fn()
    return _CACHE[fixture_id]


def fixture_id_for(conv_id: str, turn_idx: int) -> str:
    """Deterministic fixture choice per turn (FIXTURES.md §1). Uses a
    stable string hash (not Python's salted hash)."""
    h = 2166136261
    for ch in conv_id.encode():
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return _FIXTURE_IDS[(h * 31 + turn_idx) % len(_FIXTURE_IDS)]


def fixture_for(conv_id: str, turn_idx: int) -> tuple[str, bytes, dict]:
    fid = fixture_id_for(conv_id, turn_idx)
    pdf, golden = get_fixture(fid)
    return fid, pdf, golden
