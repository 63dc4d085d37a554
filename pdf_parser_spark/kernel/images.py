"""Image XObject extraction — parity with the reference's only public
pipeline (``PDF::extract_image``).

- Image param extraction  ref src/image.rs:50-83 (Subtype=Image required,
                          natural Width/Height)
- ColorSpace resolve      ref src/image.rs:85-110 (DeviceRGB | DeviceGray,
                          possibly via indirect ref)
- Filter resolve          ref src/image.rs:112-130 (reference honors only
                          element 0 of a /Filter array — we use the chain)
- Flate decode + raster   ref src/image.rs:132-161 (Gray expanded to RGB,
                          matching ``into_rgb8()``)
- SMask anti-join         ref src/page.rs:51-74: pass 1 collects /SMask
                          refs of page XObjects, pass 2 decodes every
                          XObject NOT in the SMask set
- DCT (JPEG) raster decode   ref src/image.rs:140-143: baseline,
  extended-sequential and progressive JPEG decoded to raster by the
  in-repo pure-Python codec (kernel/jpegdec.py, T.81 Huffman modes
  from the public spec), then the same Gray->RGB expansion as
  ``into_rgb8()``. Arithmetic-coded/corrupt JPEGs fall back to byte
  passthrough (``format='jpeg'``) where the reference would panic.

Deviation (SURVEY.md §2.7.4): images are returned in name-sorted XObject
order — deterministic — where the reference iterates a HashMap.
"""

from __future__ import annotations

from dataclasses import dataclass

from .cos import (
    TK_ARR_END, TK_ARR_START, TK_BOOL, TK_INT, TK_NAME, TK_REAL,
    PdfIndirectRef, PdfInteger, PdfName, PdfStreamObj,
)
from .jpegdec import JpegError, decode_baseline_jpeg


class ImageError(ValueError):
    pass


@dataclass
class ExtractedImage:
    page: int
    name: str            # XObject resource name (sort key)
    width: int
    height: int
    colorspace: str      # DeviceRGB | DeviceGray
    format: str          # 'raw-rgb' (decoded 3-byte pixels) | 'jpeg'
    data: bytes


def _image_params(doc, xobj: PdfStreamObj) -> tuple[int, int, str, str]:
    """ref src/image.rs:50-130."""
    d = xobj.dict
    subtype = d.get("Subtype")
    if not (isinstance(subtype, PdfName) and subtype.value == "Image"):
        raise ImageError("subtype is not image")  # ref src/page.rs:77-86
    width = doc.resolve(d.get("Width"))
    height = doc.resolve(d.get("Height"))
    if not (isinstance(width, PdfInteger) and width.value > 0):
        raise ImageError("bad /Width")
    if not (isinstance(height, PdfInteger) and height.value > 0):
        raise ImageError("bad /Height")
    cs = doc.resolve(d.get("ColorSpace"))  # ref src/image.rs:85-110
    if not isinstance(cs, PdfName) or cs.value not in ("DeviceRGB",
                                                       "DeviceGray"):
        raise ImageError("colorspace is not supported")
    filt = doc.resolve(d.get("Filter"))  # ref src/image.rs:112-130
    if isinstance(filt, PdfName):
        fname = filt.value
    elif filt is not None and len(filt) > 0:
        f0 = doc.resolve(filt[0])
        fname = f0.value if isinstance(f0, PdfName) else ""
    else:
        raise ImageError("filter is not supported")
    if fname not in ("FlateDecode", "DCTDecode"):
        raise ImageError("filter is not supported")
    return width.value, height.value, cs.value, fname


def extract_page_images(doc, page) -> list[ExtractedImage]:
    """ref src/page.rs:51-74 two-pass SMask exclusion, then decode."""
    smask_nums: set[int] = set()
    xobjs: list[tuple[str, PdfStreamObj]] = []
    for name, ref in page.xobject_refs:
        obj = doc.resolve(ref)
        if not isinstance(obj, PdfStreamObj):
            raise ImageError("xobject is not a stream")
        xobjs.append((name, obj))
        sm = obj.dict.get("SMask")  # ref src/page.rs:106-120
        if isinstance(sm, PdfIndirectRef):
            smask_nums.add(sm.obj_num)

    images: list[ExtractedImage] = []
    for name, obj in xobjs:
        if obj.obj_num in smask_nums:
            continue  # anti-join (ref src/page.rs:66-71)
        w, h, cs, fname = _image_params(doc, obj)
        if fname == "FlateDecode":
            # full chain incl. predictors
            fmt, px = "raw-rgb", _raster(doc.stream_data(obj), w, h, cs)
            if px is None:
                raise ImageError("image raster truncated")
        else:  # DCTDecode (ref src/image.rs:140-143 jpeg_decoder::Decoder)
            data = doc.stream_raw(obj)
            try:
                fmt, px = "raw-rgb", _dct_raster(data, w, h)
            except JpegError:
                # arithmetic-coded / corrupt / dim-mismatched JPEG:
                # keep the bytes so the sink can persist them — the
                # reference panics here (unwrap), we degrade gracefully
                # and NEVER abort the document's text extraction
                fmt, px = "jpeg", data
        images.append(ExtractedImage(page.page_number, name, w, h, cs,
                                     fmt, px))
    return images


# ------------------------------------------------------------ raster (D5)
# Shared by XObject and inline images; each caller keeps its own policy
# for a short raster or an undecodable JPEG.

def _gray_to_rgb(px) -> bytes:
    """Gray -> RGB expansion (ref src/image.rs:146-160 ``into_rgb8``)."""
    return bytes(b for p in px for b in (p, p, p))


def _raster(data, w: int, h: int, cs: str):
    """The first ``w*h`` pixels of decoded ``cs`` samples as RGB, or
    None when ``data`` holds fewer."""
    ncomp = 3 if cs == "DeviceRGB" else 1
    expected = w * h * ncomp
    if len(data) < expected:
        return None
    raw = data[:expected]
    return raw if ncomp == 3 else _gray_to_rgb(raw)


def _dct_raster(data: bytes, w: int, h: int):
    """JPEG -> RGB pixels; JpegError when the codec cannot decode it or
    its frame disagrees with /Width /Height (a stale dict from a
    generator that scales via cm)."""
    jw, jh, ncomp, px = decode_baseline_jpeg(data)
    if (jw, jh) != (w, h):
        raise JpegError("dims disagree with /Width /Height")
    return _gray_to_rgb(px) if ncomp == 1 else px


# ------------------------------------------------ inline images (BI/ID/EI)
# [EXTENSION] the reference ignores inline images entirely (its content
# handling never reaches §8.9.7); real-world PDFs carry masks/logos
# inline, so they flow through the same D1-D6 assembly here. The content
# interpreter records each image at its ``ID`` (dict operands + data
# bytes, ``ContentInterpreter.inline_images``) during the text scan, so
# the page is neither decoded nor scanned a second time for them.

# §8.9.7 abbreviated dict keys / values
_INLINE_KEY = {"W": "Width", "H": "Height", "CS": "ColorSpace",
               "F": "Filter", "BPC": "BitsPerComponent", "D": "Decode",
               "DP": "DecodeParms", "IM": "ImageMask", "I": "Interpolate",
               "L": "Length"}
_INLINE_CS = {"G": "DeviceGray", "RGB": "DeviceRGB", "CMYK": "DeviceCMYK",
              "I": "Indexed"}
_INLINE_FILTER = {"AHx": "ASCIIHexDecode", "A85": "ASCII85Decode",
                  "LZW": "LZWDecode", "Fl": "FlateDecode",
                  "RL": "RunLengthDecode", "CCF": "CCITTFaxDecode",
                  "DCT": "DCTDecode"}


def _inline_params(ops: list) -> dict:
    """The inline dict from the ``(kind, value)`` operands before ID.
    Each name is a key and the operand after it is its value — a name
    too, since names are values. An array value is the list of its
    items' values, a number/name/boolean is itself, any other operand
    is None, and a key with no value before ID maps to None."""
    params: dict = {}
    i, n = 0, len(ops)
    while i < n:
        kind, key = ops[i]
        i += 1
        if kind != TK_NAME:
            continue
        val = None
        if i < n:
            kind, val = ops[i]
            i += 1
            if kind == TK_ARR_START:
                val = []
                while i < n and ops[i][0] != TK_ARR_END:
                    val.append(ops[i][1])
                    i += 1
                i += 1
            elif kind not in (TK_INT, TK_REAL, TK_NAME, TK_BOOL):
                val = None
        params[_INLINE_KEY.get(key, key)] = val
    return params


def _assemble_inline(params: dict, data: bytes, page_number: int,
                     name: str) -> ExtractedImage | None:
    """D1-D6 over an inline image dict; returns None for shapes outside
    the supported envelope (never aborts the page: text extraction and
    XObject images must survive any inline payload)."""
    w, h = params.get("Width"), params.get("Height")
    if not (isinstance(w, int) and isinstance(h, int) and w > 0 and h > 0):
        return None
    if params.get("ImageMask") is True:
        return None  # stencil masks are not rasters
    if params.get("BitsPerComponent", 8) != 8:
        return None
    cs = params.get("ColorSpace")
    cs = _INLINE_CS.get(cs, cs)
    if cs not in ("DeviceRGB", "DeviceGray"):
        return None
    filters = params.get("Filter") or []
    if isinstance(filters, str):
        filters = [filters]
    filters = [_INLINE_FILTER.get(f, f) for f in filters]

    from .filters import ascii_hex_decode, flate_decode

    # supported chains: none | [AHx] | [Fl] | [AHx, Fl] | [DCT] |
    # [AHx, DCT] — the classic inline envelope; anything else skipped
    try:
        if filters and filters[0] == "ASCIIHexDecode":
            data = ascii_hex_decode(data)
            filters = filters[1:]
        if filters == ["FlateDecode"]:
            data = flate_decode(data, None)
            filters = []
        if filters == ["DCTDecode"]:
            px = _dct_raster(data, w, h)
        elif filters:
            return None
        else:
            px = _raster(data, w, h, cs)
    except (JpegError, ValueError, OSError):
        return None
    if px is None:
        return None
    return ExtractedImage(page_number, name, w, h, cs, "raw-rgb", px)


def extract_inline_images(page_number: int,
                          inline: list[tuple[list, bytes]]
                          ) -> list[ExtractedImage]:
    """Images from one page's ``ContentInterpreter.inline_images``,
    through the same raster path as XObjects. Names are ``BI1``,
    ``BI2``, ... in content order, one per ``ID``, skipped images
    included (XObject names never start with an operator prefix in the
    fixture corpus; a real collision would only affect display names,
    not parity)."""
    images: list[ExtractedImage] = []
    for k, (ops, data) in enumerate(inline, 1):
        img = _assemble_inline(_inline_params(ops), data, page_number,
                               f"BI{k}")
        if img is not None:
            images.append(img)
    return images
