"""COS (Carousel Object System) lexer + parser.

Reimplements the reference's token grammar and recursive-descent object
parser with identical token/byte-offset semantics:

- Token model:         ref src/lexer.rs:12-60 (every token carries its
                       absolute byte offset)
- Lexer state machine: ref src/lexer.rs:215-688
- String unescape:     ref src/lexer.rs:99-173 (deviation: ``\\t`` decodes
                       to 0x09 per PDF 32000-1 §7.3.4.2; the reference has
                       a bug pushing 0x0B — src/lexer.rs:135. Flagged in
                       SURVEY.md §2.7.1; no golden exercises it.)
- Hex decode:          ref src/lexer.rs:177-212 (odd length pads a 0)
- Parser:              ref src/parser.rs:49-278 (object tree with byte
                       offsets; dict duplicate keys: last wins,
                       src/parser.rs:246-254)

Extension beyond the reference: ``content_mode=True`` reuses the same
lexer over *content streams* (PDF 32000-1 §7.8.2) where bare keyword runs
become ``Op`` tokens instead of errors, indirect-ref/obj/stream handling
is disabled, and the data of an inline image (``BI..ID..EI``) becomes one
``TK_INLINE_DATA`` token carrying its byte span, in place of the ``ID``
and ``EI`` keywords.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import NamedTuple, Union

# ---------------------------------------------------------------- tokens

# Token kinds (ref src/lexer.rs:41-60). EOL exists in the reference enum
# but is never emitted (EOLs are skipped); kept out of the Python model.
TK_BOOL = "bool"
TK_INT = "int"
TK_REAL = "real"
TK_HEXSTR = "hexstr"
TK_STR = "str"
TK_NAME = "name"
TK_DICT_START = "dict_start"
TK_DICT_END = "dict_end"
TK_ARR_START = "arr_start"
TK_ARR_END = "arr_end"
TK_NULL = "null"
TK_IND_REF = "ind_ref"            # value = (obj_num, gen_num)
TK_IND_OBJ_START = "ind_obj_start"  # value = (obj_num, gen_num)
TK_IND_OBJ_END = "ind_obj_end"
TK_STREAM_START = "stream_start"  # value = absolute offset of stream data
TK_OP = "op"                      # content-stream operator [EXTENSION]
TK_INLINE_DATA = "inline_data"    # BI..ID..EI raw data span [EXTENSION]
                                  # value = (abs_start, abs_end) of the
                                  # data bytes (single framing ws
                                  # after ID / before EI excluded)


class Token(NamedTuple):
    # NamedTuple, not frozen dataclass: token creation is the hottest
    # allocation in the kernel and object.__setattr__ per field tripled
    # its cost (same immutable attribute API either way)
    kind: str
    value: object
    offset: int  # absolute byte offset (ref src/lexer.rs:13)


class LexerError(ValueError):
    def __init__(self, kind: str, offset: int):
        super().__init__(f"lexer error `{kind}` at byte {offset}")
        self.kind = kind
        self.offset = offset


class ParserError(ValueError):
    def __init__(self, kind: str, offset: int):
        super().__init__(f"parser error `{kind}` at byte {offset}")
        self.kind = kind
        self.offset = offset


# ------------------------------------------------------- scalar decoders

def parse_name(buf: bytes) -> str:
    """ASCII-only name body (ref src/lexer.rs:89-96). ``#xx`` escapes are
    not interpreted, matching the reference (SURVEY.md §2.7.8)."""
    if not buf.isascii():
        raise ValueError("non-ascii name")
    return buf.decode("ascii")


def parse_string(buf: bytes) -> bytes:
    """Interpret literal-string escapes (ref src/lexer.rs:99-173).

    ``\\n \\r \\t \\b \\f \\( \\) \\\\`` plus 1-3 digit octal (mod 256);
    a backslash before any other byte is dropped and the byte kept.
    Deviation from the reference: ``\\t`` -> 0x09 (spec-correct), not the
    reference's 0x0B (src/lexer.rs:135, SURVEY.md §2.7.1).
    """
    if 0x5C not in buf:  # no backslash -> no escapes -> identity
        return bytes(buf)
    out = bytearray()
    i = 0
    n = len(buf)
    escape_map = {
        0x6E: 0x0A,  # n -> LF
        0x72: 0x0D,  # r -> CR
        0x74: 0x09,  # t -> TAB (spec-correct; reference bug pushes 0x0B)
        0x62: 0x08,  # b -> BS
        0x66: 0x0C,  # f -> FF
        0x28: 0x28,  # ( -> (
        0x29: 0x29,  # ) -> )
        0x5C: 0x5C,  # \ -> backslash
    }
    while i < n:
        b = buf[i]
        if b == 0x5C:  # backslash
            i += 1
            if i >= n:
                break  # trailing backslash: dropped (ref loop just ends)
            b2 = buf[i]
            if 0x30 <= b2 <= 0x37:  # octal, 1-3 digits
                val = b2 - 0x30
                i += 1
                for _ in range(2):
                    if i < n and 0x30 <= buf[i] <= 0x37:
                        val = val * 8 + (buf[i] - 0x30)
                        i += 1
                    else:
                        break
                out.append(val & 0xFF)  # ref: u16 big-endian low byte
                continue
            mapped = escape_map.get(b2)
            out.append(mapped if mapped is not None else b2)
            i += 1
            continue
        out.append(b)
        i += 1
    return bytes(out)


def parse_hex_string(buf: bytes) -> bytes:
    """Hex pairs -> bytes; odd length pads a trailing 0
    (ref src/lexer.rs:177-212). Raises on non-hex bytes."""
    s = buf.decode("ascii", errors="strict") if buf.isascii() else None
    if s is None:
        raise ValueError("non-ascii hex string")
    for ch in s:
        if ch not in "0123456789abcdefABCDEF":
            raise ValueError("non-hex digit")
    if len(s) % 2 == 1:
        s += "0"
    return bytes.fromhex(s)


# ----------------------------------------------------------------- lexer

_WHITESPACE = frozenset({0, 9, 12, 32})  # ref src/lexer.rs:398 (EOLs apart)
_NUMBER_CHARS = frozenset(b"0123456789+-.")
# Spec-correct regular chars: not whitespace {NUL TAB LF FF CR SP} and not
# delimiter ()<>[]{}/%.  The reference excludes 0x12 instead of 0x0C
# (src/lexer.rs:292-311, SURVEY.md §2.7.2); we implement the spec.
_IRREGULAR = frozenset({0, 9, 10, 12, 13, 32}) | frozenset(b"()<>[]{}/%")
_WS_ALL = frozenset({0, 9, 10, 12, 13, 32})  # §7.2.2 white-space chars


def find_ei(buf: bytes, i: int) -> int:
    """Offset of the ``EI`` that ends inline image data starting at
    ``i`` (§8.9.7): the first ``EI`` with an irregular byte (or the
    buffer edge) on both sides; -1 when there is none."""
    n = len(buf)
    k = buf.find(b"EI", i)
    while k != -1:
        if (k == 0 or buf[k - 1] in _IRREGULAR) and \
                (k + 2 >= n or buf[k + 2] in _IRREGULAR):
            return k
        k = buf.find(b"EI", k + 1)
    return -1


def _inline_span(buf: bytes, after_id: int, ei: int) -> tuple[int, int]:
    """Data span of a BI..ID..EI inline image (§8.9.7): one framing
    whitespace byte after ``ID`` and one before ``EI`` are excluded
    when present; malformed framing degrades to the raw span."""
    d0 = after_id
    if d0 < ei and buf[d0] in _WS_ALL:
        d0 += 1
    d1 = ei
    if d1 > d0 and buf[d1 - 1] in _WS_ALL:
        d1 -= 1
    return d0, d1

# Precompiled scanners for the hot paths (byte-identical to the
# byte-at-a-time loops they replace):
# whitespace {0,9,12,32} + EOLs (\r\n|\r|\n) + comments (% to EOL),
# any interleaving, in one match. Every leading skip group is possessive
# (`++`, `*+`): nothing after it can start with a skipped byte, so the
# match is the same, and the engine keeps no backtracking state per
# repetition (a backtracking group held ~120 bytes per byte of a long
# whitespace run: a 10 MB run peaked at 1.2 GB)
_SKIP_RE = re.compile(rb"(?:[\x00\t\x0c ]|\r\n?|\n|%[^\r\n]*)++")
_NUM_RE = re.compile(rb"[0-9+\-.]+")
_REGULAR_RUN_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_REGULAR_RUN1_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_HEX_RUN_RE = re.compile(rb"[0-9a-fA-F]*")
_STR_SPECIAL_RE = re.compile(rb"[()\\]")
# Content-mode master scanner of the fused interpreter
# (textops.ContentInterpreter.run): one alternation covering every
# common content-stream token — ONE regex dispatch per token instead of
# an if-chain plus per-branch regex. The first alternative
# (whitespace/EOL/comment skip) has no capture group, so m.lastindex is
# None for skips; rare/complex cases (strings with escapes or nesting,
# malformed hex, stray delimiters) don't match and fall back to
# _scan_literal_string / _fallback_error_kind, which keep
# Lexer.tokenize's semantics and error offsets.
_CM_RE = re.compile(
    rb"(?:[\x00\t\x0c ]|\r\n?|\n|%[^\r\n]*)*+"        # leading skip
    rb"(?:([0-9+\-.]+)"                               # 1 number
    rb"|(/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"           # 2 name (incl /)
    rb"|(<<)"                                         # 3 dict start
    rb"|(>>)"                                         # 4 dict end
    rb"|(<[0-9a-fA-F]*>)"                             # 5 hex string
    rb"|(\[)"                                         # 6 arr start
    rb"|(\])"                                         # 7 arr end
    rb"|(\([^()\\]*\))"                               # 8 simple string
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"            # 9 operator run
    rb")?"                                            # always matches
)
# Object-mode master scanner of the fused object parser
# (_fused_parse_indirect): same shape, with the object-level keywords as
# ordered alternatives (R fires on the single byte and obj on the 3-byte
# prefix exactly like Lexer.tokenize's byte checks; keyword-end
# validation for endobj/null/true/false happens in the handler). No
# operator-run alternative: anything else bails to Lexer+Parser.
_OM_RE = re.compile(
    rb"(?:[\x00\t\x0c ]|\r\n?|\n|%[^\r\n]*)*+"        # leading skip
    rb"(?:([0-9+\-.]+)"                               # 1 number
    rb"|(/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"           # 2 name (incl /)
    rb"|(<<)"                                         # 3 dict start
    rb"|(>>)"                                         # 4 dict end
    rb"|(<[0-9a-fA-F]*>)"                             # 5 hex string
    rb"|(\[)"                                         # 6 arr start
    rb"|(\])"                                         # 7 arr end
    rb"|(\([^()\\]*\))"                               # 8 simple string
    rb"|(R)"                                          # 9 indirect ref
    rb"|(obj)"                                        # 10
    rb"|(endobj)"                                     # 11
    rb"|(stream)"                                     # 12
    rb"|(null)"                                       # 13
    rb"|(true)"                                       # 14
    rb"|(false)"                                      # 15
    rb")?"                                            # always matches
)


class _FallbackErr(Exception):
    """Internal: error kind from the shared fallback scanner; callers
    convert to LexerError with their own offset/state handling."""

    def __init__(self, kind: str):
        self.kind = kind


def _scan_literal_string(buf: bytes, i: int, n: int) -> tuple[bytes, int]:
    """Scan a literal string starting at the '(' at ``i``, jumping
    between delimiters with a regex; escaped bytes are skipped in pairs
    (the reference's prev_backslash toggle). Returns (parsed value,
    index after ')'). Raises _FallbackErr on truncation. One
    implementation — Lexer.tokenize, the fused object parser and the
    fused interpreter all call this (a diverged copy already caused a
    real bug once)."""
    j = i + 1
    depth = 0
    while True:
        sm = _STR_SPECIAL_RE.search(buf, j)
        if sm is None:
            raise _FallbackErr("FinishInObject")
        k = sm.start()
        c = buf[k]
        if c == 0x5C:               # backslash: skip escaped byte
            j = k + 2
            if j > n:
                raise _FallbackErr("FinishInObject")
        elif c == 0x28:
            depth += 1
            j = k + 1
        elif depth == 0:            # closing ')'
            return parse_string(buf[i + 1:k]), k + 1
        else:
            depth -= 1
            j = k + 1


def _fallback_error_kind(buf: bytes, i: int, n: int) -> tuple[str, int]:
    """Classify a non-string fallback byte exactly like
    Lexer.tokenize: returns (error kind, cursor position after any
    probing)."""
    b = buf[i]
    if b == 0x3C:                   # bad hex / truncation
        p = i + 1
        if p >= n:
            return "FinishInObject", p
        p = _HEX_RUN_RE.match(buf, p).end()
        if p >= n:
            return "FinishInObject", p
        return "UnexpectedByte", p
    if b == 0x3E:                   # lone '>'
        return "FinishInObject", i + 1
    return "UndefinedKeyword", i


class Lexer:
    """Single-pass COS tokenizer (ref src/lexer.rs:215-688).

    ``tokenize()`` stops early at ``endobj`` or ``stream`` (object-bounded
    input, ref src/lexer.rs:351-352). ``content_mode=True`` [EXTENSION]
    lexes content streams: bare keywords become TK_OP tokens and
    object-level constructs (R / obj / endobj / stream) are plain ops.
    """

    def __init__(self, buffer: bytes, start_offset: int = 0,
                 content_mode: bool = False, pos: int = 0):
        """``pos``: begin scanning at ``buffer[pos]`` WITHOUT slicing —
        per-object parses over a whole-document buffer would otherwise
        copy the remaining tail once per object (O(objects x doc_size)
        bytes for a large PDF). Token offsets are ``start_offset + i``
        with ``i`` an index into ``buffer``, so pos-callers pass the
        document's own base offset (usually 0) as ``start_offset``.
        NOTE pos does NOT bound the scan on the right: object-mode
        lexing stops at endobj/stream; for BARE objects with no such
        terminator (ObjStm members) the caller must slice to the
        object's extent first or the lex runs to the buffer end."""
        if len(buffer) <= pos:
            raise LexerError("EmptyBuffer", start_offset + pos)
        self.buffer = buffer
        self.start_offset = start_offset
        self.content_mode = content_mode
        self.i = pos
        self.token_head_i = pos
        self.tokens: list[Token] = []
        self.has_ind_obj_start = False
        self.has_ind_obj_end = False

    def has_unbalanced_indirectobj(self) -> bool:
        return self.has_ind_obj_start != self.has_ind_obj_end

    # -- main loop (ref src/lexer.rs:353-688) ---------------------------

    def tokenize(self) -> list[Token]:
        # Locals hoisted (attribute lookups dominate per byte); `i` is
        # the cursor, `head` the current token start. self.i /
        # self.token_head_i sync back on every exit so error offsets
        # stay byte-identical to the reference's per-byte loop.
        buf = self.buffer
        n = len(buf)
        so = self.start_offset
        content_mode = self.content_mode
        tokens = self.tokens
        append = tokens.append
        skip_match = _SKIP_RE.match
        num_match = _NUM_RE.match
        i = self.i
        head = self.token_head_i
        base = i

        def err(kind: str) -> LexerError:
            self.i, self.token_head_i = i, head
            return LexerError(kind, so + head)

        while i < n:
            b = buf[i]

            # whitespace / EOLs / comments, one combined scan
            # (ref :356-410)
            if (b in _WHITESPACE or b == 0x0A or b == 0x0D or b == 0x25):
                i = skip_match(buf, i).end()
                head = i
                continue

            # Integer / Real (ref :412-435)
            if b in _NUMBER_CHARS:
                i = num_match(buf, i).end()
                s = buf[head:i]
                try:
                    append(Token(TK_INT, int(s), so + head))
                    head = i
                    continue
                except ValueError:
                    pass
                try:
                    append(Token(TK_REAL, float(s), so + head))
                    head = i
                    continue
                except ValueError:
                    raise err("ParseNumber") from None

            # Name (ref :437-452)
            if b == 0x2F:  # '/'
                i = _REGULAR_RUN_RE.match(buf, i + 1).end()
                try:
                    name = parse_name(buf[head + 1:i])
                except ValueError:
                    raise err("ParseName") from None
                append(Token(TK_NAME, name, so + head))
                head = i
                continue

            # Hex string or dict start (ref :454-487)
            if b == 0x3C:  # '<'
                i += 1
                if i >= n:
                    raise err("FinishInObject")
                if buf[i] == 0x3C:
                    i += 1
                    append(Token(TK_DICT_START, None, so + head))
                    head = i
                    continue
                i = _HEX_RUN_RE.match(buf, i).end()
                if i >= n:
                    raise err("FinishInObject")
                if buf[i] != 0x3E:  # '>'
                    raise err("UnexpectedByte")
                try:
                    val = parse_hex_string(buf[head + 1:i])
                except ValueError:
                    raise err("ParseHexString") from None
                i += 1
                append(Token(TK_HEXSTR, val, so + head))
                head = i
                continue

            # Dict end (ref :489-503)
            if b == 0x3E:  # '>'
                i += 1
                if i >= n or buf[i] != 0x3E:
                    raise err("FinishInObject")
                i += 1
                append(Token(TK_DICT_END, None, so + head))
                head = i
                continue

            # Literal string (ref :505-547): the shared scanner jumps
            # between delimiters with a regex instead of per-byte
            if b == 0x28:  # '('
                try:
                    val, i = _scan_literal_string(buf, i, n)
                except _FallbackErr as fe:
                    raise err(fe.kind) from None
                append(Token(TK_STR, val, so + head))
                head = i
                continue

            # Arrays (ref :549-561)
            if b == 0x5B:  # '['
                i += 1
                append(Token(TK_ARR_START, None, so + head))
                head = i
                continue
            if b == 0x5D:  # ']'
                i += 1
                append(Token(TK_ARR_END, None, so + head))
                head = i
                continue

            if not content_mode:
                # Indirect reference: 'R' backtracks over the two previous
                # integer tokens (ref :563-591, cancel_token :269-281)
                if b == 0x52:  # 'R'
                    if (len(tokens) >= 2 and tokens[-1].kind == TK_INT
                            and tokens[-2].kind == TK_INT
                            and tokens[-2].value > 0
                            and tokens[-1].value >= 0):
                        gen_tok = tokens.pop()
                        obj_tok = tokens.pop()
                        head = obj_tok.offset - so
                        i += 1
                        append(Token(TK_IND_REF,
                                     (obj_tok.value, gen_tok.value),
                                     so + head))
                        head = i
                        continue
                    # match the original cancel-then-fail offset: head
                    # moves to the earliest cancelled token (if any)
                    if tokens:
                        tokens.pop()
                        if tokens:
                            head = tokens.pop().offset - so
                        else:
                            head = base
                    else:
                        head = base
                    raise err("InvalidIndirectRef")

                # Indirect object start (ref :593-619)
                if buf.startswith(b"obj", i):
                    if (len(tokens) >= 2 and tokens[-1].kind == TK_INT
                            and tokens[-2].kind == TK_INT
                            and tokens[-2].value > 0
                            and tokens[-1].value >= 0):
                        gen_tok = tokens.pop()
                        obj_tok = tokens.pop()
                        head = obj_tok.offset - so
                        i += 3
                        append(Token(TK_IND_OBJ_START,
                                     (obj_tok.value, gen_tok.value),
                                     so + head))
                        head = i
                        self.has_ind_obj_start = True
                        continue
                    if tokens:
                        tokens.pop()
                        if tokens:
                            head = tokens.pop().offset - so
                        else:
                            head = base
                    else:
                        head = base
                    raise err("InvalidIndirectObj")

                # endobj forces the lexer to stop (ref :621-628)
                if buf.startswith(b"endobj", i):
                    if i + 6 < n and buf[i + 6] not in _IRREGULAR:
                        raise err("UndefinedKeyword")
                    i += 6
                    append(Token(TK_IND_OBJ_END, None, so + head))
                    head = i
                    self.has_ind_obj_end = True
                    self.i, self.token_head_i = i, head
                    return tokens

                # stream: record data offset and stop (ref :630-658).
                # LF or CRLF required after the keyword (spec §3.2.7);
                # bare CR rejected.
                if buf.startswith(b"stream", i):
                    if n - (i + 5) < 3:
                        raise err("ConfirmStream")
                    j = i + 6
                    if buf.startswith(b"\n", j):
                        data_off = j + 1
                    elif buf.startswith(b"\r\n", j):
                        data_off = j + 2
                    else:
                        raise err("UnexpectedByte")
                    # close the indirect object, then emit the stream
                    # marker (ref :645-654)
                    append(Token(TK_IND_OBJ_END, None, so + head))
                    self.has_ind_obj_end = True
                    i = data_off
                    # token offset = final EOL byte (data_off - 1); see
                    # tests/test_reference_differential.py
                    append(Token(TK_STREAM_START, so + data_off,
                                 so + data_off - 1))
                    self.i, self.token_head_i = i, i
                    return tokens

            # Keyword literals (ref :660-682)
            if buf.startswith(b"null", i):
                if i + 4 < n and buf[i + 4] not in _IRREGULAR:
                    raise err("UndefinedKeyword")
                i += 4
                append(Token(TK_NULL, None, so + head))
                head = i
                continue
            if buf.startswith(b"true", i):
                if i + 4 < n and buf[i + 4] not in _IRREGULAR:
                    raise err("UndefinedKeyword")
                i += 4
                append(Token(TK_BOOL, True, so + head))
                head = i
                continue
            if buf.startswith(b"false", i):
                if i + 5 < n and buf[i + 5] not in _IRREGULAR:
                    raise err("UndefinedKeyword")
                i += 5
                append(Token(TK_BOOL, False, so + head))
                head = i
                continue

            if content_mode:
                # [EXTENSION] content-stream operator: a run of regular
                # chars (PDF 32000-1 §7.8.2). Includes 'R'-initial ops
                # like RG, and obj-like runs.
                m = _REGULAR_RUN1_RE.match(buf, i)
                if m is None:
                    raise err("UndefinedKeyword")
                start = i
                i = m.end()
                op = buf[start:i].decode("latin-1")
                if op == "ID":
                    # inline image data follows until 'EI' delimiter;
                    # emit the data span (PDF 32000-1 §8.9.7)
                    k = find_ei(buf, i)
                    if k == -1:
                        raise err("UnterminatedInlineImage")
                    d0, d1 = _inline_span(buf, i, k)
                    append(Token(TK_INLINE_DATA, (so + d0, so + d1),
                                 so + start))
                    i = k + 2
                    head = i
                    continue
                append(Token(TK_OP, op, so + start))
                head = i
                continue

            raise err("UndefinedKeyword")

        self.i, self.token_head_i = i, head
        return tokens


def tokenize(buffer: bytes, start_offset: int = 0,
             content_mode: bool = False) -> list[Token]:
    return Lexer(buffer, start_offset, content_mode).tokenize()


# ---------------------------------------------------------- object model

@dataclass(frozen=True)
class PdfBoolean:
    value: bool
    offset: int = 0


@dataclass(frozen=True)
class PdfInteger:
    value: int
    offset: int = 0


@dataclass(frozen=True)
class PdfReal:
    value: float
    offset: int = 0


@dataclass(frozen=True)
class PdfName:
    value: str
    offset: int = 0


@dataclass(frozen=True)
class PdfString:
    value: bytes
    offset: int = 0


@dataclass(frozen=True)
class PdfNull:
    offset: int = 0


@dataclass(frozen=True)
class PdfIndirectRef:
    obj_num: int
    gen_num: int
    offset: int = 0

    def key(self) -> tuple[int, int]:
        return (self.obj_num, self.gen_num)


@dataclass(frozen=True)
class PdfArray:
    items: tuple
    offset: int = 0

    def __iter__(self):
        return iter(self.items)

    def __len__(self):
        return len(self.items)

    def __getitem__(self, i):
        return self.items[i]


@dataclass(frozen=True)
class PdfDict:
    entries: tuple  # tuple of (key, value) pairs, last-wins already applied
    offset: int = 0

    def get(self, key: str, default=None):
        for k, v in self.entries:
            if k == key:
                return v
        return default

    def __contains__(self, key: str) -> bool:
        return any(k == key for k, _ in self.entries)

    def keys(self):
        return [k for k, _ in self.entries]


@dataclass(frozen=True)
class PdfIndirectObj:
    obj_num: int
    gen_num: int
    content: object
    offset: int = 0


@dataclass(frozen=True)
class PdfStreamObj:
    obj_num: int
    gen_num: int
    dict: PdfDict
    data_offset: int  # absolute offset where stream data begins
    offset: int = 0


Object = Union[PdfBoolean, PdfInteger, PdfReal, PdfName, PdfString, PdfNull,
               PdfIndirectRef, PdfArray, PdfDict, PdfIndirectObj, PdfStreamObj]


def _dedup_dict_pairs(pairs: list) -> tuple:
    """Duplicate keys: last wins (ref src/parser.rs:246-254, TODO at :251)."""
    seen: dict[str, object] = {}
    for k, v in pairs:
        seen[k] = v
    return tuple(seen.items())


# ---------------------------------------------------------------- parser

class Parser:
    """Recursive-descent parser over a token list (ref src/parser.rs:49-278).

    The constructor tokenizes eagerly and validates obj/endobj balance
    (ref src/parser.rs:56-81).
    """

    def __init__(self, buffer: bytes, start_offset: int = 0,
                 pos: int = 0):
        if len(buffer) <= pos:
            raise ParserError("EmptyBuffer", start_offset + pos)
        lexer = Lexer(buffer, start_offset, pos=pos)
        try:
            self.tokens = lexer.tokenize()
        except LexerError as e:
            raise ParserError(f"Lexer({e.kind})",
                              start_offset + pos) from e
        if lexer.has_unbalanced_indirectobj():
            raise ParserError("IndirectObjMissMatch", start_offset + pos)
        self.start_offset = start_offset + pos
        self.token_i = 0

    def _next(self) -> Token | None:
        i = self.token_i
        self.token_i += 1
        return self.tokens[i] if i < len(self.tokens) else None

    def _peek(self) -> Token | None:
        return (self.tokens[self.token_i]
                if self.token_i < len(self.tokens) else None)

    def parse(self) -> Object:
        return self.parse_object()

    def parse_object(self) -> Object:  # ref src/parser.rs:106-196
        tok = self._next()
        if tok is None:
            raise ParserError("NoToken", self.start_offset)
        off = tok.offset
        k = tok.kind
        # dispatch ordered by observed frequency in real documents
        # (ints and names dominate dict bodies) — same semantics,
        # fewer comparisons per token on the hot path
        if k == TK_INT:
            return PdfInteger(tok.value, off)
        if k == TK_NAME:
            return PdfName(tok.value, off)
        if k == TK_IND_REF:
            return PdfIndirectRef(tok.value[0], tok.value[1], off)
        if k in (TK_HEXSTR, TK_STR):
            return PdfString(tok.value, off)
        if k == TK_REAL:
            return PdfReal(tok.value, off)
        if k == TK_BOOL:
            return PdfBoolean(tok.value, off)
        if k == TK_NULL:
            return PdfNull(off)
        if k == TK_ARR_START:
            return PdfArray(tuple(self._parse_array_content()), off)
        if k == TK_DICT_START:
            return PdfDict(_dedup_dict_pairs(self._parse_dict_content()), off)
        if k == TK_IND_OBJ_START:
            obj_num, gen_num = tok.value
            inner = self._parse_indirect_content()
            nxt = self._next()
            if nxt is not None and nxt.kind == TK_STREAM_START:
                if not isinstance(inner, PdfDict):
                    raise ParserError("InvalidStreamObj", self.start_offset)
                return PdfStreamObj(obj_num, gen_num, inner, nxt.value, off)
            # _next() consumed one past; step back (the reference peeks by
            # pattern-matching self.next() and simply returns — the extra
            # token, when not a stream marker, is past endobj and the
            # reference stops there anyway)
            if nxt is not None:
                self.token_i -= 1
            return PdfIndirectObj(obj_num, gen_num, inner, off)
        raise ParserError("UnexpectedToken", off)

    def _parse_array_content(self) -> list:  # ref src/parser.rs:198-223
        items = []
        while True:
            tok = self._peek()
            if tok is None:
                raise ParserError("NoToken", self.start_offset)
            if tok.kind == TK_ARR_END:
                self._next()
                return items
            items.append(self.parse_object())

    def _parse_dict_content(self) -> list:  # ref src/parser.rs:225-262
        pairs = []
        while True:
            tok = self._peek()
            if tok is None:
                raise ParserError("NoToken", self.start_offset)
            if tok.kind == TK_DICT_END:
                self._next()
                return pairs
            if tok.kind == TK_NAME:
                self._next()
                pairs.append((tok.value, self.parse_object()))
                continue
            raise ParserError("UnexpectedToken", tok.offset)

    def _parse_indirect_content(self) -> Object:  # ref src/parser.rs:264-277
        obj = self.parse_object()
        tok = self._next()
        if tok is None:
            raise ParserError("NoToken", self.start_offset)
        if tok.kind != TK_IND_OBJ_END:
            raise ParserError("UnexpectedToken", tok.offset)
        return obj


class _FusedBail(Exception):
    """Internal: the fused parser met anything outside the common
    indirect-object success grammar — re-parse via Lexer+Parser for
    canonical results/errors."""


def _fused_parse_indirect(buf: bytes, pos: int) -> Object:
    """Single-pass shift-reduce parse of ``<int> <int> obj … endobj``
    (or ``… stream``) starting at ``buf[pos]`` — the master-regex scan
    drives object construction directly, with no Token list and no
    second pass. ONLY success paths are handled: any deviation
    (errors, bare objects, nesting oddities, string escapes' failure
    modes) raises ``_FusedBail`` and the caller re-runs the canonical
    tokenize+parse, so observable behavior — values, offsets, error
    kinds — is identical by construction. Equality on success paths is
    pinned by the fixture differential test and a hypothesis
    fused-vs-Parser check."""
    n = len(buf)
    master = _OM_RE.match
    i = pos
    wrapper = None            # (obj_num, gen_num, obj_offset)
    content: Object | None = None
    pend: list = []           # up to 2 uncommitted (int, offset)
    stack: list = []          # ['a', items, off] | ['d', pairs, off, key]

    def place(o) -> None:
        nonlocal content
        if stack:
            f = stack[-1]
            if f[0] == "a":
                f[1].append(o)
            else:
                if f[3] is None:
                    raise _FusedBail   # dict key must be a name
                f[1].append((f[3], o))
                f[3] = None
        else:
            if wrapper is None or content is not None:
                raise _FusedBail
            content = o

    def flush() -> None:
        while pend:
            v, off = pend.pop(0)
            place(PdfInteger(v, off))

    while i < n:
        m = master(buf, i)
        g = m.lastindex
        if g is None:
            e = m.end()
            if e > i:                 # whitespace / comment
                i = e
                continue
            if buf[i] == 0x28:        # string with escapes / nesting
                head = i
                try:
                    val, i = _scan_literal_string(buf, i, n)
                except _FallbackErr:
                    raise _FusedBail from None
                flush()
                place(PdfString(val, head))
                continue
            raise _FusedBail          # lexer fallback/error territory
        head = m.start(g)
        i = m.end()
        if g == 1:                    # number
            s = m.group(1)
            try:
                v = int(s)
            except ValueError:
                try:
                    flush()
                    place(PdfReal(float(s), head))
                    continue
                except ValueError:
                    raise _FusedBail from None
            if len(pend) == 2:
                v0, o0 = pend.pop(0)
                place(PdfInteger(v0, o0))
            pend.append((v, head))
        elif g == 2:                  # name
            try:
                name = parse_name(m.group(2)[1:])
            except ValueError:
                raise _FusedBail from None
            flush()
            f = stack[-1] if stack else None
            if f is not None and f[0] == "d" and f[3] is None:
                f[3] = name           # dict key position
            else:
                place(PdfName(name, head))
        elif g == 8:                  # simple literal string
            flush()
            place(PdfString(m.group(8)[1:-1], head))
        elif g == 5:                  # hex string
            try:
                val = parse_hex_string(m.group(5)[1:-1])
            except ValueError:
                raise _FusedBail from None
            flush()
            place(PdfString(val, head))
        elif g == 3:                  # <<
            flush()
            stack.append(["d", [], head, None])
        elif g == 4:                  # >>
            flush()
            if not stack or stack[-1][0] != "d" or stack[-1][3] is not None:
                raise _FusedBail
            _k, pairs, off, _ = stack.pop()
            place(PdfDict(_dedup_dict_pairs(pairs), off))
        elif g == 6:                  # [
            flush()
            stack.append(["a", [], head])
        elif g == 7:                  # ]
            flush()
            if not stack or stack[-1][0] != "a":
                raise _FusedBail
            _k, items, off = stack.pop()
            place(PdfArray(tuple(items), off))
        elif g == 9:                  # R
            if len(pend) != 2 or pend[0][0] <= 0 or pend[1][0] < 0:
                raise _FusedBail
            (ov, ooff), (gv, _goff) = pend
            pend.clear()
            place(PdfIndirectRef(ov, gv, ooff))
        elif g == 10:                 # obj
            if (wrapper is not None or stack or content is not None
                    or len(pend) != 2
                    or pend[0][0] <= 0 or pend[1][0] < 0):
                raise _FusedBail
            (ov, ooff), (gv, _goff) = pend
            pend.clear()
            wrapper = (ov, gv, ooff)
        elif g == 11:                 # endobj — stop
            if i < n and buf[i] not in _IRREGULAR:
                raise _FusedBail
            flush()
            if wrapper is None or stack or content is None:
                raise _FusedBail
            return PdfIndirectObj(wrapper[0], wrapper[1], content,
                                  wrapper[2])
        elif g == 12:                 # stream — stop
            if n - (head + 5) < 3:
                raise _FusedBail
            j = head + 6
            if buf.startswith(b"\n", j):
                data_off = j + 1
            elif buf.startswith(b"\r\n", j):
                data_off = j + 2
            else:
                raise _FusedBail
            flush()
            if (wrapper is None or stack
                    or not isinstance(content, PdfDict)):
                raise _FusedBail
            return PdfStreamObj(wrapper[0], wrapper[1], content,
                                data_off, wrapper[2])
        elif g == 13:                 # null
            if i < n and buf[i] not in _IRREGULAR:
                raise _FusedBail
            flush()
            place(PdfNull(head))
        elif g == 14:                 # true
            if i < n and buf[i] not in _IRREGULAR:
                raise _FusedBail
            flush()
            place(PdfBoolean(True, head))
        else:                         # g == 15: false
            if i < n and buf[i] not in _IRREGULAR:
                raise _FusedBail
            flush()
            place(PdfBoolean(False, head))
    raise _FusedBail                  # EOF before endobj/stream


def parse_object_at(buffer: bytes, offset: int) -> Object:
    """Parse one object starting at ``offset`` of the whole-document
    buffer. The lexer stops at ``endobj``/``stream`` so this is O(object),
    not O(object)+O(tail-copy) — the ``pos`` cursor scans the shared
    whole-document buffer in place (a ``buffer[offset:]`` slice here
    would copy the remaining tail once PER OBJECT: O(n_objects x
    doc_size) bytes on a large PDF). Replaces the reference's adaptive
    200-byte buffer growth (src/object.rs:331-374), unnecessary with
    the document in memory (SURVEY.md §2.2 J3).

    Fast path: the fused single-pass parser handles the common
    ``N G obj … endobj|stream`` success grammar without materializing
    a token list; anything unusual bails to the canonical
    tokenize+parse, so errors and edge semantics are Parser's own."""
    try:
        return _fused_parse_indirect(buffer, offset)
    except _FusedBail:
        return Parser(buffer, 0, pos=offset).parse()
