"""JPEG codec (pure Python + numpy) for DCTDecode parity.

The reference decodes DCTDecode image streams to raster with the
``jpeg_decoder`` crate and hands ``decode_image`` an RGB/Gray buffer
(`/root/reference/src/image.rs:140-160`). No JPEG library ships in
this container, so this module implements the Huffman modes of
ITU-T T.81 from the public spec:

- decoder: baseline SOF0, extended sequential SOF1, and PROGRESSIVE
  SOF2 (spectral selection + successive approximation per Annex G,
  incl. EOB runs and AC refinement correction bits). One path serves
  all three: every SOF allocates a coefficient store, one scan
  decoder fills it from each SOS — a sequential scan, interleaved or
  one per component, codes each block's whole band 0..63 — and one
  render turns it into pixels at EOI or the end of the data
  (dequantize + dezigzag, separable float IDCT, nearest-neighbour
  chroma upsampling, JFIF YCbCr->RGB with round-half-away clamp).
  Arithmetic-coded modes are rejected with a structured JpegError.
- encoders: 4:4:4 (or gray) baseline writer plus a spectral-selection
  progressive writer, both with self-defined canonical Huffman tables
  (fixed code lengths — every table emitted is declared in DHT, so
  any spec decoder reads it back). They share their halves: one
  coefficient front half, one header, SOS and DC-difference writer,
  and one AC run-length coder. They exist to build test fixtures and
  for the JPEG sink.

Parity strategy (documented in FIXTURES.md): IDCT rounding is
implementation-defined within spec tolerance, so cross-decoder
bit-parity is only guaranteed where the maths is exact — DC-only
blocks (per-8x8-flat images) with unit quantization decode to the
same pixels in every conforming decoder, including the reference's
``jpeg_decoder``. Fixtures are built that way; round-trip equality is
asserted for them and spec-tolerance (<=1/255 per sample) for
textured blocks.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

def _idct_matrix() -> np.ndarray:
    a = np.zeros((8, 8))
    for u in range(8):
        c = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = (c / 2) * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_A = _idct_matrix()


def _idct2(block: np.ndarray) -> np.ndarray:
    """2-D type-III DCT (inverse), float64."""
    return _A.T @ block @ _A


def _fdct2(block: np.ndarray) -> np.ndarray:
    """2-D forward DCT, float64."""
    return _A @ block @ _A.T


class JpegError(ValueError):
    pass


# Allocation sanity bound, in SAMPLES (width x height x components):
# the coefficient store (every mode) and the render planes each cost
# ~8 B/sample (int64/float64); the render frees each component's
# coefficients once its plane is built, so the two never add up in
# full, and 2^25 samples caps worst-case decoder memory at ~0.5-0.8 GB
# per image INCLUDING the RGB output — far above any real PDF XObject
# (8192x4096 gray, 3300x3300 RGB), far below an executor-OOM
# 65535x65535x3 declared by a corrupt SOF. Checked before the store is
# allocated.
MAX_SAMPLES = 1 << 25

# Work sanity bound, in SOS segments per file. A scan visits every
# block of its components in Python even when its entropy data is one
# EOB run, so a 14-byte progressive AC scan of a 2048x1024 gray image
# costs ~16 ms, and without a cap decode work per input byte has no
# bound (100 such scans took 2.1 s). The scan scripts in this repo use
# at most 4 scans (``encode_progressive_jpeg``: one DC scan plus one AC
# scan per component; the pdf-image-dct-prog fixture has 2) and
# libjpeg's default progression 10; 32 leaves room for richer scripts
# (successive approximation of every band) and holds the worst file to
# 32 passes over its blocks.
MAX_SCANS = 32


# ------------------------------------------------------------- huffman

def _build_huffman(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical (length, code) -> symbol map per T.81 Annex C."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first entropy-segment reader: un-stuffs 0xFF00, stops at
    markers (caller handles RST)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0
        self.cur = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise _MarkerHit(0xFF00 | nxt)
        else:
            self.pos += 1
        # mask off already-consumed high bits BEFORE shifting: without
        # this `cur` grows one bigint limb per scan byte and every
        # shift copies it — O(n^2) decode on megabyte scans
        self.cur = (((self.cur & ((1 << self.nbits) - 1)) << 8) | b)
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def byte_align(self) -> None:
        self.nbits = 0

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise JpegError("invalid Huffman code")


class _MarkerHit(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude (T.81 F.2.2.1 EXTEND)."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


# ------------------------------------------------------------- decoder

@dataclass
class _Component:
    cid: int
    h: int
    v: int
    tq: int
    td: int = 0
    ta: int = 0


def decode_baseline_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a Huffman-coded JPEG: baseline SOF0, extended sequential
    SOF1 or progressive SOF2.

    Returns (width, height, n_components, pixel bytes) — pixels are
    interleaved RGB for 3-component images (JFIF YCbCr->RGB) and
    luminance for 1-component images, matching jpeg_decoder's output
    pixel formats for the colorspaces the reference supports.

    Raises only JpegError: corrupt input (truncated segments, unknown
    scan components, missing tables) must surface as a structured
    parse failure, never as a stray exception killing the Spark task.
    """
    try:
        return _decode_baseline_jpeg(data)
    except JpegError:
        raise
    except (struct.error, StopIteration, KeyError, IndexError,
            ValueError, ZeroDivisionError, OverflowError) as e:
        # OverflowError: a DHT-declared DC magnitude category far above
        # 16 yields a predictor too large for the int64 store
        raise JpegError(f"corrupt JPEG: {type(e).__name__}") from e
    except _MarkerHit as e:
        # marker (EOI/RST/next segment) encountered where entropy data
        # was expected: truncated or corrupt scan
        raise JpegError(f"corrupt JPEG: unexpected marker "
                        f"0x{e.marker:04X} in scan") from e


def _decode_baseline_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise JpegError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps: list[_Component] = []
    width = height = 0
    restart_interval = 0
    progressive = False
    store: list[np.ndarray] = []
    dc_seen: set[int] = set()       # components a first DC scan covered
    n_scans = 0

    while pos < len(data):
        if data[pos] != 0xFF:
            raise JpegError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        seglen = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[i:i + 64],
                                        dtype=np.uint8).astype(np.int64)
                    i += 64
                else:
                    tbl = np.frombuffer(seg[i:i + 128],
                                        dtype=">u2").astype(np.int64)
                    i += 128
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                vals = seg[i + 17:i + 17 + n]
                tbl = _build_huffman(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = tbl
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (same entropy
            # coding) / SOF2 progressive
            progressive = marker == 0xC2
            height, width = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if ncomp not in (1, 3):
                # 4-component (Adobe CMYK) / 2-component JPEGs would
                # silently run the YCbCr matrix over wrong channels —
                # reject cleanly so callers fall back to passthrough
                raise JpegError(f"unsupported component count {ncomp}")
            if width * height * ncomp > MAX_SAMPLES:
                # corrupt/adversarial SOF (up to 65535x65535x3) would
                # otherwise allocate a multi-GB store before any
                # entropy data is validated — fail structured instead
                raise JpegError(
                    f"image {width}x{height}x{ncomp} exceeds decoder "
                    "pixel cap")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append(_Component(cid, hv >> 4, hv & 0xF, tq))
            hmax = max(c.h for c in comps)
            vmax = max(c.v for c in comps)
            mcus_x = _ceil(width, 8 * hmax)
            mcus_y = _ceil(height, 8 * vmax)
            store = [np.zeros((mcus_y * c.v, mcus_x * c.h, 64),
                              dtype=np.int64) for c in comps]
            dc_seen = set()
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(f"unsupported SOF marker 0xFF{marker:02X} "
                            "(baseline/extended/progressive Huffman only)")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            n_scans += 1
            if n_scans > MAX_SCANS:
                raise JpegError(f"more than {MAX_SCANS} scans")
            ns = seg[0]
            order = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c:3 + 2 * c]
                ci = next(i for i, x in enumerate(comps) if x.cid == cs)
                comps[ci].td, comps[ci].ta = tdta >> 4, tdta & 0xF
                order.append(ci)
            if progressive:
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
                if ss == 0 and se != 0:
                    raise JpegError("progressive DC scan must have Se=0")
            else:
                ss, se, ah, al = 0, 63, 0, 0
            if ss == 0 and ah == 0:
                dc_seen.update(order)
            pos = _decode_scan(data, pos + seglen, order, comps, huff_dc,
                               huff_ac, width, height, restart_interval,
                               store, ss, se, ah, al)
            continue
        pos += seglen
    if not comps or len(dc_seen) < len(comps):
        # a component no scan gave its DC would render flat grey
        raise JpegError("no SOF, or a component without a DC scan")
    return width, height, len(comps), _render(comps, store, qt, width,
                                              height)


def _ceil(a: int, b: int) -> int:
    return (a + b - 1) // b


def _comp_grid(comp: _Component, comps: list[_Component],
               width: int, height: int) -> tuple[int, int]:
    """Non-interleaved block grid of one component (T.81 A.2.2):
    ceil(component samples / 8) per axis."""
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    return (_ceil(_ceil(width * comp.h, hmax), 8),
            _ceil(_ceil(height * comp.v, vmax), 8))


def _decode_scan(data: bytes, pos: int, order: list[int],
                 comps: list[_Component], huff_dc: dict, huff_ac: dict,
                 width: int, height: int, restart_interval: int,
                 store: list[np.ndarray], ss: int, se: int, ah: int,
                 al: int) -> int:
    """Decode one scan into the coefficient store; returns the buffer
    position of the next marker, or the end of the data.

    A progressive scan (T.81 Annex G) codes one band of every block it
    covers: the DC (Ss=0) or AC Ss..Se of one component, as a first
    pass (Ah=0) or a refinement. A sequential scan comes in as Ss=0,
    Se=63, Ah=Al=0 and codes each block's DC and then its AC 1..63,
    with no end-of-band run across blocks. A single-component scan
    walks that component's own block grid (A.2.2), an interleaved one
    walks MCUs (A.2.3)."""
    if ss and len(order) != 1:
        raise JpegError("progressive AC scan must be single-component")
    if len(order) == 1:
        ci = order[0]
        nbw, nbh = _comp_grid(comps[ci], comps, width, height)
        units = ([(ci, by, bx)] for by in range(nbh) for bx in range(nbw))
    else:
        hmax = max(c.h for c in comps)
        vmax = max(c.v for c in comps)
        mcu = [(ci, by, bx) for ci in order
               for by in range(comps[ci].v) for bx in range(comps[ci].h)]
        units = ([(ci, my * comps[ci].v + by, mx * comps[ci].h + bx)
                  for ci, by, bx in mcu]
                 for my in range(_ceil(height, 8 * vmax))
                 for mx in range(_ceil(width, 8 * hmax)))
    reader = _BitReader(data, pos)
    pred = [0] * len(comps)
    eobrun = 0
    for n, unit in enumerate(units):
        if restart_interval and n and n % restart_interval == 0:
            reader.byte_align()
            while data[reader.pos] == 0xFF and \
                    0xD0 <= data[reader.pos + 1] <= 0xD7:
                reader.pos += 2
            pred = [0] * len(comps)
            eobrun = 0
        for ci, by, bx in unit:
            comp = comps[ci]
            zz = store[ci][by, bx]
            if ss == 0:
                _dc_prog(reader, huff_dc, comp, ci, pred, zz, ah, al)
                if se:
                    _ac_first(reader, huff_ac[comp.ta], zz, 1, se, 0, 0)
            elif ah == 0:
                eobrun = _ac_first(reader, huff_ac[comp.ta], zz, ss, se,
                                   al, eobrun)
            else:
                eobrun = _ac_refine(reader, huff_ac[comp.ta], zz, ss, se,
                                    al, eobrun)

    # advance to the next marker (skip pad bytes / stuffing); with no
    # marker left the image ends here, as it does at EOI
    p = reader.pos
    n = len(data)
    while p < n - 1 and not (data[p] == 0xFF and data[p + 1] != 0x00):
        p += 1
    return p if p < n - 1 else n


def _dc_prog(reader: _BitReader, huff_dc: dict, comp: _Component,
             ci: int, pred: list[int], zz: np.ndarray,
             ah: int, al: int) -> None:
    if ah == 0:                     # first DC scan: diffs at level Al
        t = reader.decode_symbol(huff_dc[comp.td])
        pred[ci] += _extend(reader.read_bits(t), t)
        zz[0] = pred[ci] << al
    else:                           # refinement: one bit per block
        if reader.read_bit():
            zz[0] |= 1 << al


def _ac_first(reader: _BitReader, tbl: dict, zz: np.ndarray,
              ss: int, se: int, al: int, eobrun: int) -> int:
    """First AC scan for one block's band (G.1.2.2); returns the
    remaining end-of-band run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_symbol(tbl)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:             # ZRL
                k += 16
                continue
            eob = (1 << r) - 1
            if r:
                eob += reader.read_bits(r)
            return eob
        k += r
        if k > se:
            raise JpegError("AC band overflow")
        zz[k] = _extend(reader.read_bits(s), s) << al
        k += 1
    return 0


def _ac_refine(reader: _BitReader, tbl: dict, zz: np.ndarray,
               ss: int, se: int, al: int, eobrun: int) -> int:
    """AC successive-approximation refinement for one block's band
    (G.1.2.3): newly-significant coefficients arrive as +-1<<Al at
    zero-history positions; every nonzero-history coefficient passed
    over (and all of them during an EOB run) absorbs one correction
    bit."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_symbol(tbl)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                val = 0             # ZRL: skip 16 zero-history coeffs
            else:
                if s != 1:
                    raise JpegError("invalid refinement magnitude")
                val = p1 if reader.read_bit() else m1
            while k <= se:
                if zz[k] != 0:
                    if reader.read_bit() and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val != 0 and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                if reader.read_bit() and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        return eobrun - 1
    return 0


def _render(comps: list[_Component], store: list[np.ndarray],
            qt: dict, width: int, height: int) -> bytes:
    """Dequantise and IDCT each component's coefficients into a plane,
    upsample it to full resolution, crop, and colour-convert. Each
    component's coefficients are dropped from the store once its plane
    is built, so the store and all the planes are never held at
    once."""
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    full = []
    for ci, comp in enumerate(comps):
        coeffs, store[ci] = store[ci], None
        bh, bw = coeffs.shape[:2]
        q = qt[comp.tq]
        plane = np.empty((bh * 8, bw * 8))
        for by in range(bh):
            for bx in range(bw):
                block = np.zeros(64)
                block[ZIGZAG] = coeffs[by, bx] * q
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _idct2(block.reshape(8, 8)) + 128.0
        del coeffs
        if comp.h != hmax or comp.v != vmax:
            plane = np.repeat(np.repeat(plane, vmax // comp.v, axis=0),
                              hmax // comp.h, axis=1)
        full.append(plane[:height, :width])

    if len(comps) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return out.tobytes()
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()


# ------------------------------------------------------------- encoder

def _canonical_bits_vals(symbols: list[int], length: int
                         ) -> tuple[list[int], bytes]:
    """All symbols at one fixed code length (canonical, valid while
    count < 2^length so the all-ones code stays unused)."""
    if len(symbols) >= (1 << length):
        raise JpegError("too many symbols for fixed-length table")
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return bits, bytes(symbols)


_DC_SYMS = list(range(12))
_AC_SYMS = ([0x00, 0xF0]
            + [(r << 4) | s for r in range(16) for s in range(1, 11)])
_DC_BITS, _DC_VALS = _canonical_bits_vals(_DC_SYMS, 5)
_AC_BITS, _AC_VALS = _canonical_bits_vals(_AC_SYMS, 9)
_DC_ENC = {sym: (ln, code) for (ln, code), sym
           in _build_huffman(_DC_BITS, _DC_VALS).items()}
_AC_ENC = {sym: (ln, code) for (ln, code), sym
           in _build_huffman(_AC_BITS, _AC_VALS).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, code) per T.81 F.1.2.1 — negative values one's-complement."""
    if v == 0:
        return 0, 0
    size = int(v if v > 0 else -v).bit_length()
    code = v if v > 0 else v + (1 << size) - 1
    return size, code


def _header(sof: int, width: int, height: int, ncomp: int) -> bytearray:
    """SOI, DQT, SOF and DHT shared by both encoders: unit quantization
    (table 0, 8-bit — encode divides by 1, so coefficients survive
    exactly and flat blocks round-trip exactly), 1x1 sampling for every
    component, and Huffman tables 0 of both classes, which every
    component references."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    frame = bytearray(struct.pack(">BHHB", 8, height, width, ncomp))
    for ci in range(ncomp):
        frame += bytes([ci + 1, 0x11, 0])
    out += bytes([0xFF, sof]) + struct.pack(">H", 2 + len(frame)) + frame
    for tc, bits, vals in ((0, _DC_BITS, _DC_VALS),
                           (1, _AC_BITS, _AC_VALS)):
        payload = bytes([tc << 4]) + bytes(bits) + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    return out


def _sos(cids: range, ss: int, se: int) -> bytes:
    """SOS over components ``cids`` (tables 0), band Ss..Se, Ah=Al=0."""
    seg = bytes([len(cids)]) + b"".join(bytes([c, 0]) for c in cids)
    seg += bytes([ss, se, 0])
    return b"\xff\xda" + struct.pack(">H", 2 + len(seg)) + seg


def _emit_dc(w: _BitWriter, dc: int, pred: list[int], ci: int) -> None:
    """Huffman-code one block's DC as its difference from the
    component's predictor (F.1.2.1)."""
    size, code = _magnitude(dc - pred[ci])
    pred[ci] = dc
    ln, c = _DC_ENC[size]
    w.write(c, ln)
    if size:
        w.write(code, size)


def _component_coeffs(pixels: bytes, width: int, height: int,
                      ncomp: int) -> list[np.ndarray]:
    """Per-component quantised (unit table) zigzag coefficient grids —
    the front half of both encoders. int16 holds them: an 8-bit FDCT
    under unit quantization stays within +-2048. A gray raster stays
    uint8 until the padded plane's assignment casts it."""
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, ncomp)
    if ncomp == 3:
        r, g, b = (arr[..., i].astype(np.float64) for i in range(3))
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
    elif ncomp == 1:
        planes = [arr[..., 0]]
    else:
        raise JpegError("ncomp must be 1 or 3")
    ph = _ceil(height, 8) * 8
    pw = _ceil(width, 8) * 8
    out = []
    for p in planes:
        pp = np.empty((ph, pw))
        pp[:height, :width] = p
        pp[height:, :width] = p[-1:, :]
        pp[:, width:] = pp[:, width - 1:width]
        zzs = np.zeros((ph // 8, pw // 8, 64), dtype=np.int16)
        for by in range(ph // 8):
            for bx in range(pw // 8):
                block = pp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                coeff = np.round(_fdct2(block)).astype(np.int64)
                zzs[by, bx] = coeff.reshape(64)[ZIGZAG]
        out.append(zzs)
    return out


def _emit_ac_band(w: _BitWriter, zz: np.ndarray, lo: int, hi: int
                  ) -> None:
    """Run-length coding of zz[lo..hi] with a per-block EOB: a
    sequential block's AC, or a first-AC-scan progressive band with
    eobrun=1."""
    band = zz[lo:hi + 1]
    nz = np.nonzero(band)[0]
    last = int(nz[-1]) if len(nz) else -1
    run = 0
    for j in range(last + 1):
        v = int(band[j])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, c = _AC_ENC[0xF0]
            w.write(c, ln)
            run -= 16
        size, code = _magnitude(v)
        ln, c = _AC_ENC[(run << 4) | size]
        w.write(c, ln)
        w.write(code, size)
        run = 0
    if last < hi - lo:
        ln, c = _AC_ENC[0x00]       # EOB: ends exactly this block
        w.write(c, ln)


def encode_baseline_jpeg(pixels: bytes, width: int, height: int,
                         ncomp: int) -> bytes:
    """Minimal baseline encoder: unit quantization, 4:4:4, fixed-length
    canonical Huffman tables (declared in DHT). ``pixels`` is
    interleaved RGB (ncomp=3, converted to YCbCr) or luminance
    (ncomp=1). Per-8x8-flat gray images round-trip exactly."""
    comps_zz = _component_coeffs(pixels, width, height, ncomp)
    bh, bw = comps_zz[0].shape[:2]
    w = _BitWriter()
    pred = [0] * ncomp
    for by in range(bh):
        for bx in range(bw):
            for ci in range(ncomp):
                zz = comps_zz[ci][by, bx]
                _emit_dc(w, int(zz[0]), pred, ci)
                _emit_ac_band(w, zz, 1, 63)
    w.flush()
    out = _header(0xC0, width, height, ncomp)
    out += _sos(range(1, ncomp + 1), 0, 63) + w.out + b"\xff\xd9"
    return bytes(out)


def encode_progressive_jpeg(pixels: bytes, width: int, height: int,
                            ncomp: int) -> bytes:
    """Minimal PROGRESSIVE (SOF2) encoder: spectral selection only —
    one interleaved DC scan, then one full-band AC scan per component
    (Ah=Al=0 everywhere). Coefficients are identical to the baseline
    encoder's, so progressive decode must reproduce the baseline
    decode bit-for-bit (round-trip asserted in tests)."""
    comps_zz = _component_coeffs(pixels, width, height, ncomp)
    bh, bw = comps_zz[0].shape[:2]
    out = _header(0xC2, width, height, ncomp)

    out += _sos(range(1, ncomp + 1), 0, 0)
    w = _BitWriter()
    pred = [0] * ncomp
    for by in range(bh):
        for bx in range(bw):
            for ci in range(ncomp):
                _emit_dc(w, int(comps_zz[ci][by, bx, 0]), pred, ci)
    w.flush()
    out += w.out

    for ci in range(ncomp):
        out += _sos(range(ci + 1, ci + 2), 1, 63)
        w = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                _emit_ac_band(w, comps_zz[ci][by, bx], 1, 63)
        w.flush()
        out += w.out

    out += b"\xff\xd9"
    return bytes(out)
