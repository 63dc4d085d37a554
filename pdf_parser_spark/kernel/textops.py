"""[EXTENSION] Content-stream text interpretation (PDF 32000-1 §9).

The reference stops at image XObjects; the north_star requires Unicode
text extraction. This module interprets text operators against the text
matrix and per-font encodings:

- Text object + positioning: ``BT/ET, Td, TD, Tm, T*, TL`` (§9.4.2)
- Text showing: ``Tj, TJ, ', "`` (§9.4.3) with TJ kerning heuristics
- Text state: ``Tf, Tc, Tw, Tz, Ts`` (§9.3)
- Graphics state subset: ``q/Q/cm`` (CTM composition)
- Fonts: ``/ToUnicode`` CMaps (bfchar/bfrange, §9.10.3), ``/Encoding``
  ``/Differences`` remaps (§9.6.6), Type0/Identity-H 2-byte codes
- Reading order: spans sorted by (page, -y, x) with line grouping
  (SURVEY.md §2.8 convention)

Content streams are scanned by a fused interpreter (``ContentInterpreter.run``)
that drives the operator dispatch straight from the content-mode master
regex, without materialising tokens; its string/hex/number/name semantics
and error kinds/offsets are those of ``cos.Lexer`` in ``content_mode``
(ref src/lexer.rs:215-688), where bare keywords become operators.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import NamedTuple

from .cos import (
    _CM_RE, _FallbackErr, _IRREGULAR, TK_ARR_END,
    TK_ARR_START, TK_BOOL, TK_DICT_END, TK_DICT_START, TK_HEXSTR, TK_INT,
    TK_NAME, TK_NULL, TK_OP, TK_REAL, TK_STR, LexerError, Token,
    _fallback_error_kind, _scan_literal_string, parse_hex_string,
    parse_name, parse_string, tokenize,
)

_MEMO_MISS = object()

Matrix = tuple  # (a, b, c, d, e, f) — PDF §8.3.3 row-major 3x2

IDENTITY: Matrix = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def mat_mul(m: Matrix, n: Matrix) -> Matrix:
    """m x n (apply m first, then n) per PDF matrix convention."""
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def translate(tx: float, ty: float) -> Matrix:
    return (1.0, 0.0, 0.0, 1.0, tx, ty)


def translate_mul(tx: float, ty: float, n: Matrix) -> Matrix:
    """``mat_mul(translate(tx, ty), n)`` specialized: Td/TD/T*/'/\" all
    premultiply a pure translation, whose product leaves n's linear
    part untouched — half the multiplies and no intermediate tuple
    (this is the hottest matrix op in the interpreter)."""
    a2, b2, c2, d2, e2, f2 = n
    return (a2, b2, c2, d2,
            tx * a2 + ty * c2 + e2,
            tx * b2 + ty * d2 + f2)


# ------------------------------------------------------------------ AGL

# Minimal Adobe Glyph List subset for /Differences decoding: ASCII names
# plus the punctuation/latin names common in PDF writers.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "fi": "ﬁ",
    "fl": "ﬂ", "degree": "°", "copyright": "©",
    "registered": "®", "trademark": "™", "euro": "€",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "ntilde": "ñ",
}
for _c in range(0x41, 0x5B):
    _AGL[chr(_c)] = chr(_c)
for _c in range(0x61, 0x7B):
    _AGL[chr(_c)] = chr(_c)


def glyph_name_to_unicode(name: str) -> str | None:
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    if len(name) == 1:
        return name
    return None


# ---------------------------------------------------------------- CMaps

def parse_tounicode_cmap(data: bytes) -> tuple[dict[int, str], set[int]]:
    """Parse a /ToUnicode CMap stream (§9.10.3): returns
    ({code -> unicode string}, {codespace byte lengths})."""
    toks = tokenize(data, 0, content_mode=True)
    mapping: dict[int, str] = {}
    code_lens: set[int] = set()
    i = 0
    n = len(toks)

    def utf16be(b: bytes) -> str:
        try:
            return b.decode("utf-16-be")
        except UnicodeDecodeError:
            return b.decode("utf-16-be", errors="replace")

    while i < n:
        t = toks[i]
        if t.kind == TK_OP and t.value == "begincodespacerange":
            i += 1
            while i < n and not (toks[i].kind == TK_OP
                                 and toks[i].value == "endcodespacerange"):
                if toks[i].kind == TK_HEXSTR:
                    code_lens.add(len(toks[i].value))
                i += 1
        elif t.kind == TK_OP and t.value == "beginbfchar":
            i += 1
            while i + 1 < n and toks[i].kind == TK_HEXSTR:
                src = int.from_bytes(toks[i].value, "big")
                code_lens.add(len(toks[i].value))
                dst = toks[i + 1]
                if dst.kind == TK_HEXSTR:
                    mapping[src] = utf16be(dst.value)
                i += 2
        elif t.kind == TK_OP and t.value == "beginbfrange":
            i += 1
            while i + 2 < n and toks[i].kind == TK_HEXSTR:
                lo = int.from_bytes(toks[i].value, "big")
                hi = int.from_bytes(toks[i + 1].value, "big")
                code_lens.add(len(toks[i].value))
                dst = toks[i + 2]
                if dst.kind == TK_HEXSTR:
                    base = dst.value
                    for k in range(hi - lo + 1):
                        if len(base) >= 2:
                            # increment the last UTF-16 code unit (§9.10.3)
                            unit = int.from_bytes(base[-2:], "big") + k
                            b = base[:-2] + unit.to_bytes(2, "big")
                        else:
                            b = bytes([base[-1] + k])
                        mapping[lo + k] = utf16be(b)
                    i += 3
                elif dst.kind == TK_ARR_START:
                    i += 3
                    k = 0
                    while i < n and toks[i].kind != TK_ARR_END:
                        if toks[i].kind == TK_HEXSTR:
                            mapping[lo + k] = utf16be(toks[i].value)
                            k += 1
                        i += 1
                    i += 1
                else:
                    i += 3
        i += 1
    return mapping, code_lens


# ---------------------------------------------------------------- fonts

@dataclass
class FontInfo:
    name: str                       # resource name, e.g. F1
    code_bytes: int = 1             # 1 for simple fonts, 2 for Identity-H
    to_unicode: dict[int, str] | None = None
    differences: dict[int, str] | None = None  # code -> unicode
    _tbl: dict[int, str] | None = None  # cached translate table (1-byte)

    def decode(self, raw: bytes) -> str:
        """Shown-string bytes -> unicode (§9.10.2 priority: ToUnicode,
        then Encoding/Differences, then latin-1 passthrough)."""
        if self.code_bytes == 1:
            # fast path: latin-1 decode == chr(code) for every byte;
            # remaps (Differences overridden by ToUnicode, matching the
            # per-code priority below) applied via str.translate
            tbl = self._tbl
            if tbl is None:
                tbl = {}
                if self.differences:
                    tbl.update(self.differences)
                if self.to_unicode:
                    tbl.update(self.to_unicode)
                self._tbl = tbl
            text = raw.decode("latin-1")
            return text.translate(tbl) if tbl else text
        out = []
        step = self.code_bytes
        for i in range(0, len(raw), step):
            chunk = raw[i:i + step]
            if len(chunk) < step:
                chunk = chunk.ljust(step, b"\0")
            code = int.from_bytes(chunk, "big")
            if self.to_unicode is not None and code in self.to_unicode:
                out.append(self.to_unicode[code])
                continue
            if self.differences is not None and code in self.differences:
                out.append(self.differences[code])
                continue
            if self.to_unicode is not None and step == 2:
                out.append("�")  # unmapped CID
                continue
            out.append(chr(code) if code < 256 else "�")
        return "".join(out)


def build_font(doc, name: str, font_dict) -> FontInfo:
    """Build a FontInfo from a /Font resource entry. ``doc`` is a
    PdfDocument (duck-typed to avoid circular import)."""
    from .cos import PdfArray, PdfDict, PdfInteger, PdfName, PdfStreamObj

    info = FontInfo(name=name)
    fd = doc.resolve(font_dict)
    if not isinstance(fd, PdfDict):
        return info

    subtype = fd.get("Subtype")
    if isinstance(subtype, PdfName) and subtype.value == "Type0":
        info.code_bytes = 2  # Identity-H / composite font

    tu = fd.get("ToUnicode")
    if tu is not None:
        tu = doc.resolve(tu)
        if isinstance(tu, PdfStreamObj):
            try:
                mapping, code_lens = parse_tounicode_cmap(doc.stream_data(tu))
                info.to_unicode = mapping
                if code_lens:
                    info.code_bytes = max(code_lens)
            except Exception:
                pass

    enc = fd.get("Encoding")
    if enc is not None:
        enc = doc.resolve(enc)
        if isinstance(enc, PdfDict):
            diffs = enc.get("Differences")
            if isinstance(diffs, PdfArray):
                dmap: dict[int, str] = {}
                code = 0
                for item in diffs:
                    if isinstance(item, PdfInteger):
                        code = item.value
                    elif isinstance(item, PdfName):
                        u = glyph_name_to_unicode(item.value)
                        dmap[code] = u if u is not None else "�"
                        code += 1
                info.differences = dmap
        elif isinstance(enc, PdfName) and enc.value in ("Identity-H",
                                                        "Identity-V"):
            info.code_bytes = 2
    return info


# ----------------------------------------------------------- interpreter

class TextSpan(NamedTuple):
    # NamedTuple: span creation is a hot allocation in emit() and
    # dataclass __init__ costs ~2x (same immutable attribute API)
    page: int
    x: float
    y: float
    font: str
    text: str


# TJ kerning heuristic: adjustments are thousandths of em moving the pen
# LEFT for positive values... spec: subtracted from displacement. A large
# negative number widens the gap -> treat as an inter-word space.
TJ_SPACE_THRESHOLD = -180.0


# Operators the text interpreter acts on; everything else (paths,
# colours, XObjects, marked content) is a no-op for extraction.
_TEXT_OPS = frozenset({"q", "Q", "cm", "BT", "ET", "Tf", "Td", "TD",
                       "Tm", "T*", "TL", "Tj", "'", '"', "TJ"})
_EMPTY_FONT = FontInfo(name="")

# Peephole "superinstruction" scanner: text-heavy content is almost
# entirely runs of `tx ty Td` and `(string) Tj` (measured ~98% of ops
# on the fixture corpus), so one regex match consumes a complete
# operands+operator sequence instead of one master-regex match per
# token. STRICTLY narrower than the master scanner: numbers must be
# float()-parseable (so the int/float fallback ladder can't diverge),
# the string must be the escape-free simple form (master group 8), the
# operator must end at a delimiter (same regular-run rule as master
# group 9), and inter-token skips reuse the master's exact
# whitespace/EOL/comment element, except that a comment must run to
# the end of its line: the master regex never backtracks into a
# comment, but the peephole must still match Td/Tj after it, so a bare
# `%[^\r\n]*` would let `% (old) Tj` match as `%` + `(old) Tj` and
# run a commented-out operator. Anything else falls back to the
# per-token path byte-identically — a peephole miss costs one failed
# match only at op boundaries (`boundary` flag in run()); a peephole
# hit cannot change semantics because it appends-then-consumes exactly
# the operands the dispatch ladder would have used and clears the
# operand buffer exactly like the ladder's finally-clause.
# Differentially pinned by test_property.py's fused-vs-token-loop
# oracle (peep-adversarial shapes included in the sampled alphabet).
_PEEP_WS = rb"(?:[\x00\t\x0c ]|\r\n?|\n|%[^\r\n]*(?![^\r\n]))"
_PEEP_NUM = rb"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)"
_PEEP_RE = re.compile(
    _PEEP_WS + rb"*"
    rb"(?:(" + _PEEP_NUM + rb")" + _PEEP_WS + rb"+"
    rb"(" + _PEEP_NUM + rb")" + _PEEP_WS + rb"+Td"
    rb"|\(([^()\\]*)\)" + _PEEP_WS + rb"*Tj"
    rb")(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
)


class ContentInterpreter:
    """Execute one page's content stream, emitting TextSpans."""

    def __init__(self, fonts: dict[str, FontInfo], page_number: int):
        self.fonts = fonts
        self.page = page_number
        self.spans: list[TextSpan] = []

    def run(self, content: bytes) -> list[TextSpan]:
        """Fused scan-and-interpret: the content-mode master regex
        (cos._CM_RE) feeds the operator dispatch directly — no Token
        materialisation for the ~75% of tokens that are operands of
        irrelevant operators. Token-stream semantics are identical to
        ``cos.tokenize(content_mode=True)`` + the old token loop
        (asserted by test_property.py's fused-vs-tokenized check);
        error kinds/offsets match the lexer's.
        """
        if not content.strip():
            return self.spans
        ctm: Matrix = IDENTITY
        gstack: list[Matrix] = []
        tm: Matrix = IDENTITY
        tlm: Matrix = IDENTITY
        leading = 0.0
        font: FontInfo | None = None
        font_size = 0.0
        # operands are (kind, value) pairs
        operands: list[tuple[str, object]] = []

        def opnum(t: tuple[str, object]) -> float:
            return float(t[1])

        def emit(raw: bytes) -> None:
            nonlocal tm
            f = font if font is not None else _EMPTY_FONT
            text = f.decode(raw)
            if text == "":
                return
            # only the translation row of tm x ctm is needed
            e1, f1 = tm[4], tm[5]
            x = e1 * ctm[0] + f1 * ctm[2] + ctm[4]
            y = e1 * ctm[1] + f1 * ctm[3] + ctm[5]
            self.spans.append(TextSpan(self.page, x, y, f.name, text))

        buf = content
        n = len(buf)
        i = 0
        master = _CM_RE.match
        peep = _PEEP_RE.match
        operands_append = operands.append
        operands_clear = operands.clear
        spans_append = self.spans.append
        relevant = _TEXT_OPS
        # op-run memo: bytes -> decoded op if relevant, False if
        # irrelevant (one dict probe then clear), None if it needs the
        # out-of-line keyword/ID handling
        op_memo: dict[bytes, object] = {}

        # peephole attempts only at op boundaries (start of stream or
        # just after an operator was dispatched) — mid-operand-run
        # attempts would fail anyway, this just skips their cost. A
        # hit is position-safe regardless: the superinstruction's own
        # operands are the last 1-2 appended, which is exactly what
        # the ladder consumes, and the buffer is cleared either way.
        boundary = True
        while i < n:
            if boundary:
                pm = peep(buf, i)
                if pm is not None:
                    i = pm.end()
                    if pm.lastindex == 3:      # (string) Tj
                        f = font if font is not None else _EMPTY_FONT
                        text = f.decode(pm.group(3))
                        if text:
                            e1, f1 = tm[4], tm[5]
                            spans_append(TextSpan(
                                self.page,
                                e1 * ctm[0] + f1 * ctm[2] + ctm[4],
                                e1 * ctm[1] + f1 * ctm[3] + ctm[5],
                                f.name, text))
                    else:                      # tx ty Td
                        tx = float(pm.group(1))
                        ty = float(pm.group(2))
                        a2, b2, c2, d2, e2, f2 = tlm
                        tm = tlm = (a2, b2, c2, d2,
                                    tx * a2 + ty * c2 + e2,
                                    tx * b2 + ty * d2 + f2)
                    if operands:
                        operands_clear()
                    continue
            m = master(buf, i)
            g = m.lastindex
            if g is None:
                e = m.end()
                if e > i:              # whitespace / comment
                    i = e
                    continue
                start = i
                if buf[i] == 0x28:     # string with escapes or nesting
                    try:
                        val, i = _scan_literal_string(buf, i, n)
                    except _FallbackErr as fe:
                        raise LexerError(fe.kind, start) from None
                    operands_append((TK_STR, val))
                    continue
                kind, i = _fallback_error_kind(buf, i, n)
                raise LexerError(kind, start)
            i = m.end()
            if g != 9:                 # operand token
                boundary = False
                if g == 1:             # number
                    s = m.group(1)
                    try:
                        operands_append((TK_INT, int(s)))
                    except ValueError:
                        try:
                            operands_append((TK_REAL, float(s)))
                        except ValueError:
                            raise LexerError("ParseNumber",
                                             m.start(1)) from None
                elif g == 8:           # simple literal string
                    operands_append((TK_STR, m.group(8)[1:-1]))
                elif g == 2:           # name
                    try:
                        operands_append((TK_NAME,
                                         parse_name(m.group(2)[1:])))
                    except ValueError:
                        raise LexerError("ParseName", m.start(2)) from None
                elif g == 5:           # hex string
                    try:
                        operands_append(
                            (TK_HEXSTR, parse_hex_string(m.group(5)[1:-1])))
                    except ValueError:
                        raise LexerError("ParseHexString",
                                         m.start(5)) from None
                elif g == 3:
                    operands_append((TK_DICT_START, None))
                elif g == 4:
                    operands_append((TK_DICT_END, None))
                elif g == 6:
                    operands_append((TK_ARR_START, None))
                else:  # g == 7
                    operands_append((TK_ARR_END, None))
                continue

            raw = m.group(9)
            op = op_memo.get(raw, _MEMO_MISS)
            if op is _MEMO_MISS:
                dec = raw.decode("latin-1")
                if dec in ("true", "false", "null") or \
                        dec.startswith(("true", "false", "null")) or \
                        dec == "ID":
                    op = None          # out-of-line every time
                else:
                    op = dec if dec in relevant else False
                op_memo[raw] = op
            if op is False:            # irrelevant operator
                operands_clear()
                boundary = True
                continue
            if op is None:             # keyword / inline image
                dec = raw.decode("latin-1")
                if dec == "true":
                    operands_append((TK_BOOL, True))
                    boundary = False
                    continue
                if dec == "false":
                    operands_append((TK_BOOL, False))
                    boundary = False
                    continue
                if dec == "null":
                    operands_append((TK_NULL, None))
                    boundary = False
                    continue
                if dec == "ID":        # inline image data until 'EI'
                    k = buf.find(b"EI", i)
                    while k != -1:
                        before_ws = k == 0 or buf[k - 1] in _IRREGULAR
                        after_ws = (k + 2 >= n) or \
                            (buf[k + 2] in _IRREGULAR)
                        if before_ws and after_ws:
                            break
                        k = buf.find(b"EI", k + 1)
                    if k == -1:
                        raise LexerError("UnterminatedInlineImage", m.start(9))
                    i = k + 2
                    boundary = True
                    continue
                # keyword (true/false/null) followed by regular bytes
                raise LexerError("UndefinedKeyword", m.start(9))

            # ladder ordered by measured op frequency: text-heavy
            # content is ~98% Tj/Td (fixture corpus count 498/510 vs
            # <=20 for every other op), so those two branches come
            # first with their float conversions / translation math
            # inlined (no opnum()/translate_mul()/emit() call).
            boundary = True
            try:
                if op == "Tj":
                    if operands:
                        last = operands[-1]
                        if last[0] in (TK_STR, TK_HEXSTR):
                            f = font if font is not None else _EMPTY_FONT
                            text = f.decode(last[1])
                            if text:
                                e1, f1 = tm[4], tm[5]
                                self.spans.append(TextSpan(
                                    self.page,
                                    e1 * ctm[0] + f1 * ctm[2] + ctm[4],
                                    e1 * ctm[1] + f1 * ctm[3] + ctm[5],
                                    f.name, text))
                elif op == "Td" and len(operands) >= 2:
                    tx = float(operands[-2][1])
                    ty = float(operands[-1][1])
                    a2, b2, c2, d2, e2, f2 = tlm
                    tm = tlm = (a2, b2, c2, d2,
                                tx * a2 + ty * c2 + e2,
                                tx * b2 + ty * d2 + f2)
                elif op == "q":
                    gstack.append(ctm)
                elif op == "Q":
                    ctm = gstack.pop() if gstack else IDENTITY
                elif op == "cm" and len(operands) >= 6:
                    m = tuple(opnum(x) for x in operands[-6:])
                    ctm = mat_mul(m, ctm)
                elif op == "BT":
                    tm = IDENTITY
                    tlm = IDENTITY
                elif op == "ET":
                    pass
                elif op == "Tf" and len(operands) >= 2:
                    fname = operands[-2][1]
                    font_size = opnum(operands[-1])
                    font = self.fonts.get(fname, FontInfo(name=str(fname)))
                elif op == "TD" and len(operands) >= 2:
                    leading = -opnum(operands[-1])
                    tlm = translate_mul(opnum(operands[-2]),
                                        opnum(operands[-1]), tlm)
                    tm = tlm
                elif op == "Tm" and len(operands) >= 6:
                    tlm = tuple(opnum(x) for x in operands[-6:])
                    tm = tlm
                elif op == "T*":
                    tlm = translate_mul(0.0, -leading, tlm)
                    tm = tlm
                elif op == "TL" and len(operands) >= 1:
                    leading = opnum(operands[-1])
                elif op == "'" and operands:
                    tlm = translate_mul(0.0, -leading, tlm)
                    tm = tlm
                    last = operands[-1]
                    if last[0] in (TK_STR, TK_HEXSTR):
                        emit(last[1])
                elif op == '"' and len(operands) >= 3:
                    tlm = translate_mul(0.0, -leading, tlm)
                    tm = tlm
                    last = operands[-1]
                    if last[0] in (TK_STR, TK_HEXSTR):
                        emit(last[1])
                elif op == "TJ":
                    # operands hold the array tokens: arr_start items arr_end
                    parts: list[str] = []
                    f = font if font is not None else _EMPTY_FONT
                    for ot in operands:
                        if ot[0] in (TK_STR, TK_HEXSTR):
                            parts.append(f.decode(ot[1]))
                        elif ot[0] in (TK_INT, TK_REAL):
                            if float(ot[1]) <= TJ_SPACE_THRESHOLD:
                                parts.append(" ")
                    text = "".join(parts)
                    if text:
                        e1, f1 = tm[4], tm[5]
                        self.spans.append(TextSpan(
                            self.page,
                            e1 * ctm[0] + f1 * ctm[2] + ctm[4],
                            e1 * ctm[1] + f1 * ctm[3] + ctm[5],
                            f.name, text))
            finally:
                operands_clear()
        return self.spans


# --------------------------------------------------------- reading order

LINE_Y_QUANTUM = 2.0  # device units within which spans share a line


def spans_to_text(spans: list[TextSpan]) -> str:
    """Reading-order assembly: sort by (page, -y, x) with line grouping
    (SURVEY.md §2.8); spans in a line concatenated, lines joined by \\n,
    pages joined by \\n."""
    if not spans:
        return ""
    from operator import itemgetter

    q = LINE_Y_QUANTUM
    by_page: dict[int, list[tuple[int, float, str]]] = {}
    for s in spans:
        by_page.setdefault(s.page, []).append(
            (round(s.y / q), s.x, s.text))
    key0 = itemgetter(0)
    key1 = itemgetter(1)
    page_texts = []
    for page in sorted(by_page):
        rows = by_page[page]
        # two stable passes == (sort lines by key desc, then each line
        # by x): x first, then line key desc — reverse=True preserves
        # the relative (x-sorted, emission) order of equal keys
        rows.sort(key=key1)
        rows.sort(key=key0, reverse=True)
        line_texts = []
        cur_key = None
        parts: list[str] = []
        for r in rows:
            if cur_key is not None and r[0] != cur_key:
                line_texts.append("".join(parts))
                parts = []
            cur_key = r[0]
            parts.append(r[2])
        line_texts.append("".join(parts))
        page_texts.append("\n".join(line_texts))
    return "\n".join(page_texts)
