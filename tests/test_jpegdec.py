"""Baseline JPEG codec (kernel/jpegdec.py): DCT pixel parity.

The reference decodes DCTDecode streams with jpeg_decoder
(src/image.rs:140-143). IDCT rounding is implementation-defined within
T.81 tolerance, so the hard-parity cases are the mathematically exact
ones: DC-only (per-8x8-flat) blocks under unit quantization decode to
identical pixels in every conforming decoder. Textured blocks are
bounded at <=1/255 per sample (spec accuracy class)."""

from __future__ import annotations

import numpy as np
import pytest

from pdf_parser_spark.kernel.jpegdec import (
    JpegError, decode_baseline_jpeg, encode_baseline_jpeg,
)


def test_flat_gray_roundtrip_exact():
    rng = np.random.default_rng(3)
    blocks = rng.integers(0, 256, size=(3, 4), dtype=np.uint8)
    img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
    data = encode_baseline_jpeg(img.tobytes(), 32, 24, 1)
    w, h, n, px = decode_baseline_jpeg(data)
    assert (w, h, n) == (32, 24, 1)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(24, 32), img)


def test_textured_gray_within_spec_tolerance():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
    data = encode_baseline_jpeg(img.tobytes(), 32, 24, 1)
    _, _, _, px = decode_baseline_jpeg(data)
    got = np.frombuffer(px, np.uint8).reshape(24, 32).astype(int)
    assert np.abs(got - img.astype(int)).max() <= 1


def test_flat_color_roundtrip():
    rng = np.random.default_rng(5)
    blocks = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    rgb = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
    data = encode_baseline_jpeg(rgb.tobytes(), 16, 16, 3)
    w, h, n, px = decode_baseline_jpeg(data)
    assert (w, h, n) == (16, 16, 3)
    got = np.frombuffer(px, np.uint8).reshape(16, 16, 3).astype(int)
    # YCbCr conversion adds one rounding step each way
    assert np.abs(got - rgb.astype(int)).max() <= 1


def test_non_multiple_of_8_dims():
    img = np.arange(10 * 13, dtype=np.uint8).reshape(10, 13) // 2 * 2
    img = (img // 16 * 16)  # flat-ish but not block aligned
    data = encode_baseline_jpeg(img.tobytes(), 13, 10, 1)
    w, h, _, px = decode_baseline_jpeg(data)
    assert (w, h) == (13, 10)
    got = np.frombuffer(px, np.uint8).reshape(10, 13).astype(int)
    assert np.abs(got - img.astype(int)).max() <= 1


def test_rejects_non_jpeg_and_malformed_progressive():
    with pytest.raises(JpegError):
        decode_baseline_jpeg(b"\xff\xd8\xff\xe0fake\xff\xd9")
    # SOF2 with baseline-style full-band scans is malformed progressive
    # (DC and AC must be separate scans): structured rejection
    flat = np.full((8, 8), 80, np.uint8)
    data = bytearray(encode_baseline_jpeg(flat.tobytes(), 8, 8, 1))
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC2
    with pytest.raises(JpegError):
        decode_baseline_jpeg(bytes(data))
    # truly unsupported: arithmetic-coded SOF9
    data[i + 1] = 0xC9
    with pytest.raises(JpegError):
        decode_baseline_jpeg(bytes(data))


def test_ff_byte_stuffing_roundtrip():
    """Coefficient patterns that emit 0xFF entropy bytes must be
    un-stuffed correctly."""
    rng = np.random.default_rng(6)
    for _ in range(5):
        img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
        data = encode_baseline_jpeg(img.tobytes(), 16, 16, 1)
        _, _, _, px = decode_baseline_jpeg(data)
        got = np.frombuffer(px, np.uint8).reshape(16, 16).astype(int)
        assert np.abs(got - img.astype(int)).max() <= 1


def test_decoder_never_hangs_on_fuzz():
    """Arbitrary byte soup must raise (JpegError or clean failure),
    never hang or return garbage silently."""
    import random

    from pdf_parser_spark.kernel.jpegdec import encode_progressive_jpeg

    rng = random.Random(99)
    flat = np.full((8, 8), 80, np.uint8)
    rgb = np.random.default_rng(9).integers(0, 256, (16, 16, 3), np.uint8)
    seeds = [encode_baseline_jpeg(flat.tobytes(), 8, 8, 1),
             encode_progressive_jpeg(flat.tobytes(), 8, 8, 1),
             encode_progressive_jpeg(rgb.tobytes(), 16, 16, 3)]
    for seed in seeds:
        for trial in range(60):
            data = bytearray(seed)
            for _ in range(rng.randrange(1, 6)):
                data[rng.randrange(len(data))] = rng.randrange(256)
            try:
                w, h, n, px = decode_baseline_jpeg(bytes(data))
                assert 0 < w <= 1 << 16 and 0 < h <= 1 << 16
                assert len(px) in (w * h, w * h * 3)
            except (JpegError, IndexError, ValueError):
                pass  # clean structured failure


def test_progressive_equals_baseline_decode():
    """Spectral-selection progressive encode (DC scan + per-component
    AC scans) must decode to exactly the baseline decode of the same
    image (identical coefficients -> identical IDCT)."""
    from pdf_parser_spark.kernel.jpegdec import encode_progressive_jpeg

    rng = np.random.default_rng(8)
    for shape, nc in [((24, 32), 1), ((16, 16), 3), ((10, 13), 1)]:
        h, w = shape
        size = (h, w) if nc == 1 else (h, w, 3)
        img = rng.integers(0, 256, size=size, dtype=np.uint8)
        base = decode_baseline_jpeg(
            encode_baseline_jpeg(img.tobytes(), w, h, nc))
        prog = decode_baseline_jpeg(
            encode_progressive_jpeg(img.tobytes(), w, h, nc))
        assert prog == base


def test_progressive_successive_approximation_exact():
    """Hand-built single-block stream with Al=1 first scans + Al=0
    refinement scans (DC bit, AC newly-significant + correction bits
    per T.81 G.1.2.3) must reconstruct the exact coefficients."""
    import struct

    from pdf_parser_spark.kernel.jpegdec import (
        _AC_BITS, _AC_ENC, _AC_VALS, _DC_BITS, _DC_ENC, _DC_VALS,
        ZIGZAG, _BitWriter, _idct2, _magnitude,
    )

    # zigzag-order coefficients (unit quantisation)
    zz = np.zeros(64, dtype=np.int64)
    zz[0], zz[2], zz[5], zz[10], zz[63] = 100, 5, 1, -3, 7

    def scan_hdr(comps, ss, se, ah, al):
        sos = bytes([len(comps)]) + b"".join(
            bytes([c, 0x00]) for c in comps) + bytes([ss, se,
                                                      (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    def dc_first(al):
        w = _BitWriter()
        v = int(zz[0]) >> al
        size, code = _magnitude(v)
        ln, c = _DC_ENC[size]
        w.write(c, ln)
        if size:
            w.write(code, size)
        w.flush()
        return bytes(w.out)

    def ac_first(al):
        w = _BitWriter()
        vals = [int(v) // (1 << al) if v >= 0 else -((-int(v)) >> al)
                for v in zz]
        run = 0
        last = max(k for k in range(1, 64) if vals[k] != 0)
        for k in range(1, last + 1):
            if vals[k] == 0:
                run += 1
                continue
            while run > 15:
                ln, c = _AC_ENC[0xF0]; w.write(c, ln); run -= 16
            size, code = _magnitude(vals[k])
            ln, c = _AC_ENC[(run << 4) | size]
            w.write(c, ln); w.write(code, size)
            run = 0
        if last < 63:
            ln, c = _AC_ENC[0x00]; w.write(c, ln)
        w.flush()
        return bytes(w.out)

    def dc_refine(al):
        w = _BitWriter()
        w.write((int(zz[0]) >> al) & 1, 1)
        w.flush()
        return bytes(w.out)

    def ac_refine(ah, al):
        """G.1.2.3 emission for ONE block, band 1..63."""
        w = _BitWriter()
        hist = [int(v) // (1 << ah) if v >= 0 else -((-int(v)) >> ah)
                for v in zz]          # values known after Ah-level scans
        run = 0
        pending = []                  # correction bits for passed coeffs
        for k in range(1, 64):
            c = int(zz[k])
            if hist[k] != 0:          # nonzero history: correction bit
                pending.append((abs(c) >> al) & 1)
            elif (abs(c) >> al) == 1:  # newly significant
                while run > 15:
                    ln, cd = _AC_ENC[0xF0]; w.write(cd, ln)
                    run -= 16
                    for b in pending: w.write(b, 1)
                    pending = []
                ln, cd = _AC_ENC[(run << 4) | 1]
                w.write(cd, ln)
                w.write(1 if c > 0 else 0, 1)
                for b in pending: w.write(b, 1)
                pending = []
                run = 0
            else:
                run += 1
        # end of band: EOB then corrections for remaining history coeffs
        ln, cd = _AC_ENC[0x00]
        w.write(cd, ln)
        for b in pending: w.write(b, 1)
        w.flush()
        return bytes(w.out)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, bits, vals in ((0, _DC_BITS, _DC_VALS),
                           (1, _AC_BITS, _AC_VALS)):
        payload = bytes([tc << 4]) + bytes(bits) + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    out += scan_hdr([1], 0, 0, 0, 1) + dc_first(1)
    out += scan_hdr([1], 1, 63, 0, 1) + ac_first(1)
    out += scan_hdr([1], 0, 0, 1, 0) + dc_refine(0)
    out += scan_hdr([1], 1, 63, 1, 0) + ac_refine(1, 0)
    out += b"\xff\xd9"

    w, h, n, px = decode_baseline_jpeg(bytes(out))
    assert (w, h, n) == (8, 8, 1)
    block = np.zeros(64)
    block[ZIGZAG] = zz
    expected = np.clip(np.round(_idct2(block.reshape(8, 8)) + 128.0),
                       0, 255).astype(np.uint8)
    got = np.frombuffer(px, np.uint8).reshape(8, 8)
    assert np.array_equal(got, expected)


def test_bitreader_linear_in_scan_size():
    """Regression: the bit accumulator must not grow with scan size
    (unmasked bigint made decode O(n^2)); 128x128 decodes in well
    under a second and within ~linear scaling of 64x64."""
    import time

    rng = np.random.default_rng(12)
    def t(side):
        img = rng.integers(0, 256, size=(side, side), dtype=np.uint8)
        data = encode_baseline_jpeg(img.tobytes(), side, side, 1)
        t0 = time.perf_counter()
        decode_baseline_jpeg(data)
        return time.perf_counter() - t0
    t64, t128 = t(64), t(128)
    assert t128 < 1.5
    assert t128 < t64 * 10    # ~4x expected; quadratic bug gave >10x


def test_rejects_cmyk_component_count():
    flat = np.full((8, 8), 80, np.uint8)
    data = bytearray(encode_baseline_jpeg(flat.tobytes(), 8, 8, 1))
    i = bytes(data).find(b"\xff\xc0")
    # SOF payload: len(2) prec(1) h(2) w(2) ncomp(1)
    data[i + 9] = 4
    with pytest.raises(JpegError):
        decode_baseline_jpeg(bytes(data))


def _patch_sos_to_single_component(data: bytes) -> bytes:
    """Rewrite a 3-component baseline JPEG's SOS header to declare only
    its first component (the non-interleaved multi-scan shape)."""
    i = data.find(b"\xff\xda")
    assert i >= 0
    seglen = int.from_bytes(data[i + 2:i + 4], "big")
    seg = data[i + 4:i + 2 + seglen]
    ns = seg[0]
    assert ns == 3
    tail = seg[1 + 2 * ns:]            # ss, se, ahal
    new_seg = bytes([1]) + seg[1:3] + tail
    return (data[:i + 2] + (len(new_seg) + 2).to_bytes(2, "big")
            + new_seg + data[i + 2 + seglen:])


def test_non_interleaved_sequential_rejected():
    """A sequential file whose only SOS covers fewer components than the
    SOF declares must raise (not return a single-plane raster labeled
    3-component — that corrupted the sink downstream): the other
    components never get a scan."""
    import numpy as np

    rgb = np.zeros((8, 8, 3), dtype=np.uint8)
    rgb[..., 0] = 200
    data = _patch_sos_to_single_component(
        encode_baseline_jpeg(rgb.tobytes(), 8, 8, 3))
    with pytest.raises(JpegError, match="without a DC scan"):
        decode_baseline_jpeg(data)


def _sos_segment(cids, ss: int, se: int) -> bytes:
    import struct

    seg = bytes([len(cids)]) + b"".join(bytes([c, 0x00]) for c in cids)
    seg += bytes([ss, se, 0x00])
    return b"\xff\xda" + struct.pack(">H", 2 + len(seg)) + seg


def _scan_data(coeffs, cis, with_ac: bool) -> bytes:
    """Entropy-coded data of one Ah=Al=0 scan over the components
    ``cis`` of 1x1-sampled coefficient grids: per block, each
    component's DC difference and, ``with_ac``, its AC 1..63."""
    from pdf_parser_spark.kernel.jpegdec import (
        _DC_ENC, _BitWriter, _emit_ac_band, _magnitude,
    )

    w = _BitWriter()
    pred = {ci: 0 for ci in cis}
    bh, bw = coeffs[0].shape[:2]
    for by in range(bh):
        for bx in range(bw):
            for ci in cis:
                zz = coeffs[ci][by, bx]
                size, code = _magnitude(int(zz[0]) - pred[ci])
                pred[ci] = int(zz[0])
                ln, c = _DC_ENC[size]
                w.write(c, ln)
                if size:
                    w.write(code, size)
                if with_ac:
                    _emit_ac_band(w, zz, 1, 63)
    w.flush()
    return bytes(w.out)


def test_non_interleaved_sequential_decodes():
    """A legal baseline file with one SOS per component (T.81 A.2.2
    non-interleaved order) decodes to the same pixels as the
    interleaved encode of the same image."""
    from pdf_parser_spark.kernel.jpegdec import _component_coeffs

    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 256, size=(13, 20, 3), dtype=np.uint8)
    interleaved = encode_baseline_jpeg(rgb.tobytes(), 20, 13, 3)
    coeffs = _component_coeffs(rgb.tobytes(), 20, 13, 3)
    data = interleaved[:interleaved.find(b"\xff\xda")]
    for ci in range(3):
        data += _sos_segment([ci + 1], 0, 63) + _scan_data(coeffs, [ci],
                                                           True)
    data += b"\xff\xd9"
    assert decode_baseline_jpeg(data) == decode_baseline_jpeg(interleaved)


def test_single_component_scan_ignores_sampling_factors():
    """A one-component scan is non-interleaved whatever the SOF's
    sampling factors (T.81 A.2.2): a gray image whose SOF declares 2x2
    decodes to the same pixels as its 1x1 original, blocks in raster
    order, not grouped 2x2 as MCUs."""
    rng = np.random.default_rng(22)
    img = rng.integers(0, 256, size=(16, 32), dtype=np.uint8)
    data = bytearray(encode_baseline_jpeg(img.tobytes(), 32, 16, 1))
    i = bytes(data).find(b"\xff\xc0")
    # SOF payload: len(2) prec(1) h(2) w(2) ncomp(1) cid(1) hv(1)
    assert data[i + 11] == 0x11
    original = decode_baseline_jpeg(bytes(data))
    data[i + 11] = 0x22
    assert decode_baseline_jpeg(bytes(data)) == original


def test_progressive_component_without_dc_scan_rejected():
    """A progressive file whose DC scan omits a component (its AC scans
    all present) raises instead of rendering that component with a
    zero DC."""
    from pdf_parser_spark.kernel.jpegdec import (
        _component_coeffs, encode_progressive_jpeg,
    )

    rng = np.random.default_rng(23)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    full = encode_progressive_jpeg(rgb.tobytes(), 16, 16, 3)
    dc_at = full.find(b"\xff\xda")
    ac_at = full.find(b"\xff\xda", dc_at + 2)
    coeffs = _component_coeffs(rgb.tobytes(), 16, 16, 3)
    data = (full[:dc_at] + _sos_segment([1, 2], 0, 0)
            + _scan_data(coeffs, [0, 1], False) + full[ac_at:])
    with pytest.raises(JpegError, match="without a DC scan"):
        decode_baseline_jpeg(data)


def test_oversized_sof_rejected_before_allocation():
    """A corrupt SOF declaring 65535x65535 must fail structured (pixel
    cap) instead of attempting multi-GB allocations."""
    import numpy as np

    img = np.full((8, 8), 128, dtype=np.uint8)
    data = bytearray(encode_baseline_jpeg(img.tobytes(), 8, 8, 1))
    i = bytes(data).find(b"\xff\xc0")
    assert i >= 0
    data[i + 5:i + 9] = (65535).to_bytes(2, "big") * 2
    with pytest.raises(JpegError, match="pixel cap"):
        decode_baseline_jpeg(bytes(data))
    # progressive path allocates its store at SOF too
    from pdf_parser_spark.kernel.jpegdec import encode_progressive_jpeg
    pdata = bytearray(encode_progressive_jpeg(img.tobytes(), 8, 8, 1))
    j = bytes(pdata).find(b"\xff\xc2")
    assert j >= 0
    pdata[j + 5:j + 9] = (65535).to_bytes(2, "big") * 2
    with pytest.raises(JpegError, match="pixel cap"):
        decode_baseline_jpeg(bytes(pdata))


def test_scan_count_capped():
    """A progressive scan visits every block of its component even when
    its entropy data is one EOB run, so a file of many tiny scans would
    cost unbounded decode work per input byte. Past MAX_SCANS SOS
    segments the decoder raises instead."""
    import struct

    from pdf_parser_spark.kernel.jpegdec import (
        _DC_BITS, _DC_ENC, _DC_VALS, MAX_SCANS, _BitWriter,
    )

    def segment(marker, payload):
        return (bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload))
                + payload)

    def gray_progressive(n_ac_scans):
        """64x64 gray, flat 128: one DC scan, then ``n_ac_scans``
        first-AC scans whose data is one EOB run over all 64 blocks."""
        out = b"\xff\xd8" + segment(0xDB, b"\x00" + bytes([1] * 64))
        out += segment(0xC2, struct.pack(">BHHB", 8, 64, 64, 1)
                       + bytes([1, 0x11, 0]))
        out += segment(0xC4, b"\x00" + bytes(_DC_BITS) + _DC_VALS)
        # AC table: the one symbol 0x60 (EOB run 64..127) at code '0'
        out += segment(0xC4, b"\x10" + bytes([1] + [0] * 15) + b"\x60")
        w = _BitWriter()
        ln, code = _DC_ENC[0]
        for _ in range(64):
            w.write(code, ln)
        w.flush()
        out += segment(0xDA, bytes([1, 1, 0x00, 0, 0, 0])) + bytes(w.out)
        # code '0' plus 6 zero run bits (run 64), padded with ones
        ac = segment(0xDA, bytes([1, 1, 0x00, 1, 63, 0])) + b"\x01"
        return out + ac * n_ac_scans + b"\xff\xd9"

    w, h, n, px = decode_baseline_jpeg(gray_progressive(MAX_SCANS - 1))
    assert (w, h, n) == (64, 64, 1)
    assert set(px) == {128}
    with pytest.raises(JpegError, match="scans"):
        decode_baseline_jpeg(gray_progressive(MAX_SCANS + 1))


def test_sink_forwards_malformed_raster(spark):
    """never-abort contract: a raw-rgb row whose data length disagrees
    with width*height*3 is forwarded unchanged, not a task abort."""
    from pdf_parser_spark.operators.extraction import encode_images_jpeg

    rows = [("c", 0, 1, "Im1", 4, 4, "DeviceRGB", "raw-rgb",
             bytearray(b"\x01\x02\x03")),        # 3 != 4*4*3
            ("c", 0, 1, "Im2", 2, 2, "DeviceRGB", "raw-rgb",
             bytearray(bytes(range(12))))]       # valid 2x2 rgb
    imgs = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, page int, name string, "
              "width int, height int, colorspace string, format string, "
              "data binary")
    got = {r["name"]: r for r in encode_images_jpeg(imgs).collect()}
    assert got["Im1"]["format"] == "raw-rgb"
    assert bytes(got["Im1"]["data"]) == b"\x01\x02\x03"
    assert got["Im2"]["format"] == "jpeg"
    assert bytes(got["Im2"]["data"]).startswith(b"\xff\xd8")
