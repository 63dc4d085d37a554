"""PDF file-structure parsing: header, trailer, cross-reference.

Reference parity + extensions:

- Header validation     ref src/header.rs:30-54 (first <=15 bytes, cut at
                        EOL, regex ``%PDF-\\d+\\.\\d+``)
- Trailer scan          ref src/trailer.rs:23-100 (last min(1024, size)
                        bytes per spec Appendix H note 18). Improvement
                        over the reference (SURVEY.md §2.7.5): we take the
                        *last* complete ``trailer``/``startxref`` block in
                        the window and follow ``/Prev`` chains.
- Classic xref          ref src/cross_reference.rs:58-210. Extensions
                        (SURVEY.md §2.7.6): multiple subsections, free
                        (``f``) entries, ``/Prev`` chains — where the
                        reference parses exactly one subsection and
                        panics on free entries (src/cross_reference.rs:
                        67-68, 162-164). The xref is materialized once
                        per document as a dict instead of the reference's
                        per-lookup 18-byte re-read (src/cross_reference.rs:
                        142-179) — documents are row-sized here.
- XRef streams + ObjStm [EXTENSION] PDF 32000-1 §7.5.7-§7.5.8.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import rawbytes as rb
from .cos import (
    LexerError, Parser, ParserError, PdfArray, PdfDict, PdfIndirectRef,
    PdfInteger,
    PdfName, PdfStreamObj, parse_object_at,
)
from .filters import decode_stream


class PdfStructureError(ValueError):
    pass


class PdfEncryptedError(PdfStructureError):
    """[EXTENSION] the trailer carries /Encrypt in a shape this engine
    cannot recover (PDF 32000-1 §7.6). Empty-user-password documents
    under the Standard handler (V1/V2 RC4, V4 with RC4 or AESV2 crypt
    filters, R2/R3/R4) are decrypted transparently by kernel/crypt.py
    and never raise this; everything else — AESV3/V5+, non-Standard
    handlers, real user passwords — does. Without the probe such a
    document parses its STRUCTURE fine and then silently extracts
    ciphertext mojibake, poisoning a corpus with no lineage signal (the
    reference has no Encrypt handling anywhere in its src/ and does
    exactly that).
    extract_text maps this to parse_error='encrypted'."""


_HEADER_RE = re.compile(r"%PDF-\d+\.\d+")
PDF_HEADER_MAX_LENGTH = 15  # ref src/header.rs:31


def validate_header(buf: bytes) -> str:
    """ref src/header.rs:30-54. Returns the version string (e.g. '1.4')."""
    head = buf[:PDF_HEADER_MAX_LENGTH]
    line = rb.cut_after_eol(head)
    if line is None:
        raise PdfStructureError("invalid pdf header: no EOL in first 15 bytes")
    try:
        text = line.decode("utf-8")
    except UnicodeDecodeError as e:
        raise PdfStructureError("invalid pdf header: not utf-8") from e
    m = _HEADER_RE.search(text)
    if m is None:
        raise PdfStructureError(f"invalid pdf header: {text!r}")
    return m.group(0)[5:]


# ---------------------------------------------------------------- xref

# entry types in the materialized xref table
XREF_FREE = 0       # classic 'f' / stream type 0
XREF_OFFSET = 1     # classic 'n' / stream type 1: value = byte offset
XREF_IN_OBJSTM = 2  # stream type 2: value = (objstm_num, index_in_stream)


@dataclass
class XRefTable:
    """Materialized cross-reference: obj_num -> (type, value, gen).

    Replaces the reference's lazy 20-byte-arithmetic lookups
    (src/cross_reference.rs:142-179) with a dict built once per document.
    """
    entries: dict = field(default_factory=dict)
    trailer_dict: PdfDict | None = None

    def merge_older(self, other: "XRefTable") -> None:
        """Entries from newer generations win (/Prev chain order)."""
        for k, v in other.entries.items():
            self.entries.setdefault(k, v)

    def lookup(self, ref: PdfIndirectRef):
        """ref src/cross_reference.rs:142-171: missing -> error; returns
        (type, value, gen). Generation mismatch on in-use entries -> error
        (GenerationNumberMisMatch parity)."""
        ent = self.entries.get(ref.obj_num)
        if ent is None:
            raise PdfStructureError(
                f"object number {ref.obj_num} is not contained")
        typ, value, gen = ent
        if typ == XREF_OFFSET and gen != ref.gen_num:
            raise PdfStructureError("generation number miss match")
        return ent


def _parse_classic_xref_section(buf: bytes, offset: int) -> tuple[XRefTable, PdfDict]:
    """Parse one classic ``xref`` section + its trailer dict at ``offset``.

    Extends ref src/cross_reference.rs:58-140 to multiple subsections and
    free entries. Fixed 20-byte entries, ``%010d %05d (n|f)``
    (ref src/cross_reference.rs:177-210).
    """
    if not buf.startswith(b"xref", offset):
        # tolerate leading whitespace before the keyword
        m = re.compile(rb"\s*xref").match(buf, offset)
        if m is None:
            raise PdfStructureError(f"xref keyword not found at {offset}")
        pos = m.end()
    else:
        pos = offset + 4
    tail = rb.extract_after_eol(buf[pos:])
    if tail is None:
        raise PdfStructureError("xref: no EOL after keyword")
    pos = len(buf) - len(tail)

    table = XRefTable()
    sub_re = re.compile(rb"[ \t]*(\d+)[ \t]+(\d+)[ \t]*(?:\r\n|\r|\n)")
    while True:
        if buf.startswith(b"trailer", pos) or buf[pos:pos + 1] == b"":
            break
        m = sub_re.match(buf, pos)
        if m is None:
            # skip stray whitespace lines before 'trailer'
            m2 = re.compile(rb"\s+").match(buf, pos)
            if m2 and buf.startswith(b"trailer", m2.end()):
                pos = m2.end()
                break
            raise PdfStructureError(
                f"xref: bad subsection header at {pos}")
        from_num = int(m.group(1))
        count = int(m.group(2))
        pos = m.end()
        for k in range(count):
            ent = buf[pos:pos + 20]
            if len(ent) < 18:
                raise PdfStructureError("xref: truncated entry")
            try:
                num = int(ent[0:10])
                gen = int(ent[11:16])
            except ValueError as e:
                raise PdfStructureError(f"xref: bad entry at {pos}") from e
            t = ent[17:18]
            obj_num = from_num + k
            if t == b"n":
                table.entries.setdefault(obj_num, (XREF_OFFSET, num, gen))
            elif t == b"f":
                # free entries are recorded, not a panic
                # (reference panics: src/cross_reference.rs:162-164)
                table.entries.setdefault(obj_num, (XREF_FREE, num, gen))
            else:
                raise PdfStructureError("xref: entry type not supported")
            pos += 20

    # trailer dict follows the section
    if not buf.startswith(b"trailer", pos):
        hit = rb.first_match_index(buf[pos:], b"trailer")
        if hit is None:
            raise PdfStructureError("xref: trailer keyword not found")
        pos += hit
    pos += len(b"trailer")
    # cut before 'startxref' like the reference (src/trailer.rs:87-91) —
    # the lexer would otherwise choke on the keyword after the dict
    rest = buf[pos:]
    cut = rb.cut_from(rest, b"startxref")
    if cut is not None:
        rest = cut
    trailer_obj = Parser(rest, pos).parse()
    if not isinstance(trailer_obj, PdfDict):
        raise PdfStructureError("xref: trailer is not a dict")
    table.trailer_dict = trailer_obj
    return table, trailer_obj


def _xref_stream_fields(stream_obj: PdfStreamObj, buf: bytes,
                        get_stream_data) -> tuple[XRefTable, PdfDict]:
    """[EXTENSION] Parse an XRef *stream* (PDF 32000-1 §7.5.8):
    /W [a b c] binary rows over /Index [from count ...] subsections,
    FlateDecode + PNG predictors handled by the filter chain."""
    d = stream_obj.dict
    data = get_stream_data(stream_obj)
    w = d.get("W")
    if not isinstance(w, PdfArray):
        raise PdfStructureError("xref stream: missing /W")
    widths = [v.value for v in w]
    if len(widths) != 3:
        raise PdfStructureError("xref stream: /W must have 3 elements")
    size = d.get("Size")
    index = d.get("Index")
    if isinstance(index, PdfArray):
        pairs = [v.value for v in index]
    else:
        pairs = [0, size.value]
    row_len = sum(widths)
    table = XRefTable()
    table.trailer_dict = d
    pos = 0
    for p in range(0, len(pairs), 2):
        start, count = pairs[p], pairs[p + 1]
        for k in range(count):
            row = data[pos:pos + row_len]
            if len(row) < row_len:
                raise PdfStructureError("xref stream: truncated row")
            pos += row_len
            cols = []
            off = 0
            for wd in widths:
                cols.append(int.from_bytes(row[off:off + wd], "big")
                            if wd else None)
                off += wd
            typ = cols[0] if widths[0] else 1  # default type 1 when w[0]=0
            obj_num = start + k
            if typ == 0:
                table.entries.setdefault(obj_num, (XREF_FREE, cols[1], cols[2] or 0))
            elif typ == 1:
                table.entries.setdefault(obj_num,
                                         (XREF_OFFSET, cols[1], cols[2] or 0))
            elif typ == 2:
                table.entries.setdefault(obj_num,
                                         (XREF_IN_OBJSTM, (cols[1], cols[2]), 0))
            # unknown types: ignored per spec §7.5.8.3
    return table, d


TRAILER_WINDOW = 1024  # ref src/trailer.rs:25-27 (spec App. H note 18)


def find_startxref(buf: bytes) -> int:
    """Locate the *last* ``startxref <int>`` in the trailing window.
    The reference mixes first-%%EOF with last-startxref in a 1KB window
    (SURVEY.md §2.7.5); we scan from the end of the file."""
    window_start = max(0, len(buf) - TRAILER_WINDOW)
    window = buf[window_start:]
    after = rb.extract_tail_after(window, b"startxref")
    if after is None:
        raise PdfStructureError("startxref not found")
    after = rb.cut_from(after, b"%%EOF")
    if after is None:
        raise PdfStructureError("%%EOF not found")
    try:
        obj = Parser(after, 0).parse()
    except ParserError as e:
        raise PdfStructureError(f"bad startxref value: {e}") from e
    if not isinstance(obj, PdfInteger) or obj.value < 0:
        raise PdfStructureError("startxref is not a non-negative integer")
    return obj.value


def load_xref_chain(buf: bytes, get_stream_data) -> XRefTable:
    """Build the full xref (following /Prev and /XRefStm), newest first.

    ``get_stream_data(stream_obj) -> bytes`` decodes an xref stream body
    (injected to avoid a circular import with doc.py).
    """
    start = find_startxref(buf)
    table: XRefTable | None = None
    seen: set[int] = set()
    offset: int | None = start
    while offset is not None and offset not in seen:
        seen.add(offset)
        section, tdict = _load_xref_section(buf, offset, get_stream_data)
        if table is None:
            table = section
            table.trailer_dict = tdict
        else:
            table.merge_older(section)
        # classic hybrid files: /XRefStm points at an xref stream that
        # shadows part of the classic section
        xrefstm = tdict.get("XRefStm")
        if isinstance(xrefstm, PdfInteger):
            stm_section, _ = _load_xref_section(buf, xrefstm.value,
                                                get_stream_data)
            table.merge_older(stm_section)
        prev = tdict.get("Prev")
        offset = prev.value if isinstance(prev, PdfInteger) else None
    if table is None or table.trailer_dict is None:
        raise PdfStructureError("no xref sections found")
    return table


def _load_xref_section(buf: bytes, offset: int,
                       get_stream_data) -> tuple[XRefTable, PdfDict]:
    probe = buf[offset:offset + 8].lstrip()
    if probe.startswith(b"xref"):
        return _parse_classic_xref_section(buf, offset)
    obj = parse_object_at(buf, offset)
    if isinstance(obj, PdfStreamObj):
        typ = obj.dict.get("Type")
        if isinstance(typ, PdfName) and typ.value == "XRef":
            return _xref_stream_fields(obj, buf, get_stream_data)
    raise PdfStructureError(f"no xref table or XRef stream at {offset}")


# -------------------------------------------------------------- ObjStm

def parse_object_stream(data: bytes, n: int, first: int) -> dict:
    """[EXTENSION] PDF 32000-1 §7.5.7: decode an object stream body into
    {obj_num: Object}. ``data`` is the already-defiltered stream body."""
    header = data[:first]
    nums = []
    tok_parser = Parser(header, 0) if header.strip() else None
    if tok_parser is None:
        return {}
    toks = tok_parser.tokens
    ints = [t.value for t in toks if t.kind == "int"]
    # Packed objects are BARE (no endobj/stream terminator), so an
    # unbounded lex from each offset would tokenize to the end of the
    # stream once per object — O(n_objects x stream_size) token work.
    # Each member's extent is bounded by the next member's offset
    # (ascending per §7.5.7 practice; guarded below), so a per-object
    # slice is linear in total stream bytes AND bounds the lex.
    out = {}
    # unique+sorted: duplicate member offsets (two entries pointing at
    # the same bytes) must each get the full extent to the NEXT
    # DISTINCT offset, not a zero-length slice
    starts = sorted({first + ints[2 * i + 1] for i in range(n)})
    next_of = {off: (starts[j + 1] if j + 1 < len(starts) else len(data))
               for j, off in enumerate(starts)}
    # Lying-offset retries re-lex an unbounded tail; a crafted stream
    # whose members ALL fail the bounded parse would otherwise cost
    # O(n_objects x stream_size) — the exact bound the per-member
    # slicing exists to guarantee. Budget total retry bytes to a few
    # multiples of the stream size: real lying-offset streams have a
    # handful of crossing members, adversarial ones hit the cap and
    # surface the member's ParserError like any other malformed object.
    retry_budget = max(4 * len(data), 1 << 20)
    for i in range(n):
        obj_num = ints[2 * i]
        abs_off = first + ints[2 * i + 1]
        end = next_of.get(abs_off, len(data))
        try:
            obj = Parser(data[abs_off:end], abs_off).parse()
        except (ParserError, LexerError):
            # Lying offset table: a member's serialization crosses the
            # next member's declared start (malformed but recoverable).
            # Retry once from the unbounded tail — restores the
            # pre-bounding behavior for exactly these streams while the
            # well-formed path stays O(total bytes).
            if retry_budget < len(data) - abs_off:
                raise
            retry_budget -= len(data) - abs_off
            obj = Parser(data[abs_off:], abs_off).parse()
        out[obj_num] = obj
    return out
