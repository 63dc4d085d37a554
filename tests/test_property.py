"""Property-based tests (SURVEY.md §5.2 item 3): random COS object
trees round-trip through a serializer → lexer+parser, and random byte
strings round-trip through literal/hex escaping. Pure-kernel — no
Spark session needed, so these run in ~seconds."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_parser_spark.kernel.cos import (
    Parser,
    PdfArray,
    PdfBoolean,
    PdfDict,
    PdfInteger,
    PdfName,
    PdfNull,
    PdfReal,
    PdfString,
)

# ----------------------------------------------------------- serializer

NAME_CHARS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
    min_size=1, max_size=10)


def serialize(obj) -> bytes:
    if isinstance(obj, PdfBoolean):
        return b"true" if obj.value else b"false"
    if isinstance(obj, PdfInteger):
        return str(obj.value).encode()
    if isinstance(obj, PdfReal):
        return repr(obj.value).encode()
    if isinstance(obj, PdfName):
        return b"/" + obj.value.encode()
    if isinstance(obj, PdfString):
        return b"(" + escape_literal(obj.value) + b")"
    if isinstance(obj, PdfNull):
        return b"null"
    if isinstance(obj, PdfArray):
        return b"[" + b" ".join(serialize(i) for i in obj.items) + b"]"
    if isinstance(obj, PdfDict):
        inner = b" ".join(b"/" + k.encode() + b" " + serialize(v)
                          for k, v in obj.entries)
        return b"<<" + inner + b">>"
    raise TypeError(type(obj))


def escape_literal(data: bytes) -> bytes:
    out = bytearray()
    for b in data:
        if b in (0x28, 0x29, 0x5C):          # ( ) \
            out += b"\\" + bytes([b])
        elif b == 0x0A:
            out += b"\\n"
        elif b == 0x0D:
            out += b"\\r"
        elif b < 0x20 or b > 0x7E:
            out += ("\\%03o" % b).encode()
        else:
            out.append(b)
    return bytes(out)


# ----------------------------------------------------------- strategies

scalars = st.one_of(
    st.booleans().map(PdfBoolean),
    st.integers(min_value=-(2**31), max_value=2**31 - 1).map(PdfInteger),
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-1e6, max_value=1e6,
              # the lexer parses plain decimal notation, not 1e-07
              allow_subnormal=False).filter(
        lambda f: "e" not in repr(f) and "E" not in repr(f)).map(PdfReal),
    NAME_CHARS.map(PdfName),
    st.binary(max_size=24).map(PdfString),
    st.just(PdfNull()),
)


def containers(children):
    return st.one_of(
        st.lists(children, max_size=4).map(
            lambda xs: PdfArray(tuple(xs))),
        st.lists(st.tuples(NAME_CHARS, children), max_size=4).map(
            lambda kvs: PdfDict(tuple({k: v for k, v in kvs}.items()))),
    )


objects = st.recursive(scalars, containers, max_leaves=12)


def strip_offsets(obj):
    """Structural equality modulo byte offsets."""
    if isinstance(obj, PdfArray):
        return ("arr", tuple(strip_offsets(i) for i in obj.items))
    if isinstance(obj, PdfDict):
        return ("dict", tuple((k, strip_offsets(v))
                              for k, v in obj.entries))
    if isinstance(obj, PdfReal):
        return ("real", obj.value)
    if isinstance(obj, PdfNull):
        return ("null",)
    if isinstance(obj, (PdfBoolean, PdfInteger, PdfName, PdfString)):
        return (type(obj).__name__, obj.value)
    raise TypeError(type(obj))


# ---------------------------------------------------------------- tests

@settings(max_examples=300, deadline=None)
@given(objects)
def test_roundtrip_object_tree(obj):
    data = serialize(obj)
    parsed = Parser(data).parse()
    assert strip_offsets(parsed) == strip_offsets(obj)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=64))
def test_roundtrip_literal_string(data):
    src = b"(" + escape_literal(data) + b")"
    parsed = Parser(src).parse()
    assert isinstance(parsed, PdfString)
    assert parsed.value == data


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_roundtrip_hex_string(data):
    src = b"<" + data.hex().encode() + b">"
    parsed = Parser(src).parse()
    assert isinstance(parsed, PdfString)
    assert parsed.value == data


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**50), max_value=2**50))
def test_integer_exact(n):
    parsed = Parser(str(n).encode()).parse()
    assert isinstance(parsed, PdfInteger) and parsed.value == n


# ----------------------------------------- fused content interpreter

def reference_interpret(content: bytes):
    """The pre-fusion dispatch loop, verbatim semantics, driven by
    ``Lexer.tokenize``'s content-mode tokens: the oracle the fused
    ``ContentInterpreter.run`` is checked against. Returns the spans,
    or ``("err", kind, offset)`` for a lexer error; any other error
    (``float()`` of a non-number operand) propagates."""
    from pdf_parser_spark.kernel.cos import (
        TK_HEXSTR, TK_INT, TK_OP, TK_REAL, TK_STR, LexerError, tokenize,
    )
    from pdf_parser_spark.kernel.textops import (
        IDENTITY, TJ_SPACE_THRESHOLD, FontInfo, TextSpan, mat_mul,
        translate,
    )

    try:
        toks = tokenize(content, 0, content_mode=True)
    except LexerError as e:
        return ("err", e.kind, e.offset)
    spans = []
    ctm = IDENTITY
    gstack = []
    tm = IDENTITY
    tlm = IDENTITY
    leading = 0.0
    font = None
    operands = []
    empty_font = FontInfo(name="")

    def emit(raw):
        f = font if font is not None else empty_font
        text = f.decode(raw)
        if text == "":
            return
        dev = mat_mul(tm, ctm)
        spans.append(TextSpan(1, dev[4], dev[5], f.name, text))

    for t in toks:
        if t.kind != TK_OP:
            operands.append(t)
            continue
        op = t.value
        if op == "q":
            gstack.append(ctm)
        elif op == "Q":
            ctm = gstack.pop() if gstack else IDENTITY
        elif op == "cm" and len(operands) >= 6:
            ctm = mat_mul(tuple(float(x.value) for x in operands[-6:]), ctm)
        elif op == "BT":
            tm = IDENTITY
            tlm = IDENTITY
        elif op == "Tf" and len(operands) >= 2:
            font = {}.get(operands[-2].value,
                          FontInfo(name=str(operands[-2].value)))
        elif op == "Td" and len(operands) >= 2:
            tlm = mat_mul(translate(float(operands[-2].value),
                                    float(operands[-1].value)), tlm)
            tm = tlm
        elif op == "TD" and len(operands) >= 2:
            leading = -float(operands[-1].value)
            tlm = mat_mul(translate(float(operands[-2].value),
                                    float(operands[-1].value)), tlm)
            tm = tlm
        elif op == "Tm" and len(operands) >= 6:
            tlm = tuple(float(x.value) for x in operands[-6:])
            tm = tlm
        elif op == "T*":
            tlm = mat_mul(translate(0.0, -leading), tlm)
            tm = tlm
        elif op == "TL" and len(operands) >= 1:
            leading = float(operands[-1].value)
        elif op == "Tj" and operands:
            if operands[-1].kind in (TK_STR, TK_HEXSTR):
                emit(operands[-1].value)
        elif op == "'" and operands:
            tlm = mat_mul(translate(0.0, -leading), tlm)
            tm = tlm
            if operands[-1].kind in (TK_STR, TK_HEXSTR):
                emit(operands[-1].value)
        elif op == '"' and len(operands) >= 3:
            tlm = mat_mul(translate(0.0, -leading), tlm)
            tm = tlm
            if operands[-1].kind in (TK_STR, TK_HEXSTR):
                emit(operands[-1].value)
        elif op == "TJ":
            parts = []
            f = font if font is not None else empty_font
            for ot in operands:
                if ot.kind in (TK_STR, TK_HEXSTR):
                    parts.append(f.decode(ot.value))
                elif ot.kind in (TK_INT, TK_REAL):
                    if float(ot.value) <= TJ_SPACE_THRESHOLD:
                        parts.append(" ")
            text = "".join(parts)
            if text:
                dev = mat_mul(tm, ctm)
                spans.append(TextSpan(1, dev[4], dev[5], f.name, text))
        operands = []
    return spans


def fused_interpret(content: bytes):
    """``ContentInterpreter.run`` with a lexer error folded into the
    same ``("err", kind, offset)`` shape as ``reference_interpret``."""
    from pdf_parser_spark.kernel.cos import LexerError
    from pdf_parser_spark.kernel.textops import ContentInterpreter

    try:
        return ContentInterpreter({}, 1).run(content)
    except LexerError as e:
        return ("err", e.kind, e.offset)


def assert_same_result(got, want):
    if isinstance(want, tuple) or isinstance(got, tuple):
        assert got == want
        return
    assert [(s.page, s.font, s.text) for s in got] == \
        [(s.page, s.font, s.text) for s in want]
    for a, b in zip(got, want):
        for u, v in ((a.x, b.x), (a.y, b.y)):
            # random bytes reach inf/nan through huge or cancelling
            # coordinates; those must agree exactly
            assert u == v or abs(u - v) < 1e-9 or (u != u and v != v), \
                (a, b)


@settings(max_examples=400, deadline=None)
@given(st.binary(min_size=1, max_size=400))
# a Td/Tj inside a comment line is not an operator (peephole cases)
@example(b"(.)%Tj")
@example(b"%1 2 Td\n[(a)] TJ")
@example(b"BT\n% (old) Tj\n/F1 9 Tf ET")
def test_fused_interpreter_matches_token_loop_on_random_bytes(data):
    """The fused interpreter scans content bytes itself, so on ANY bytes
    it must produce the reference's spans, or raise the lexer error
    (kind AND offset) that ``tokenize(content_mode=True)`` raises.
    Inputs where either side fails first with a non-lexer error
    (``float()`` of a name operand) say nothing about lexing."""
    try:
        got = fused_interpret(data)
    except Exception:
        return
    try:
        want = reference_interpret(data)
    except Exception:
        return
    assert_same_result(got, want)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.sampled_from(
    [b"BT", b"ET", b"1 0 0 1 5 7 cm", b"q", b"Q", b"/F1 9 Tf",
     b"10 20 Td", b"(hi) Tj", b"[ (a) -300 (b) ] TJ", b"<414243> Tj",
     b"0.5 w", b"1 0 0 RG", b"T*", b"14 TL", b"(x\\(y) Tj",
     b"% note\n", b"true false null 3 sc", b"5 TD", b"2 4 6 8 1 3 Tm",
     b"(a) '", b"1 2 (b) \"",
     # peephole-adversarial shapes: extra operands before Td, missing
     # whitespace (falls to master), malformed numbers, operator runs
     # that merely start with Td/Tj, comments inside the sequence,
     # signs/leading-dot numbers, escaped strings before Tj
     b"5 10 20 Td", b"(a)Tj", b"72 760Td", b"1.2.3 4 Td",
     b"10 20 Tda", b".5 -.25 Td", b"(s) Tjx", b"% c\n10 20 Td",
     b"10 % k\n20 Td", b"+3 -0. Td", b"(q\\n) Tj", b"() Tj",
     # commented-out operators: the comment runs to the end of line
     b"% (old) Tj\n", b"1 2 %Td\n", b"(c)%Tj\nET"]),
    min_size=0, max_size=30))
def test_fused_interpreter_matches_token_loop(parts):
    """Differential oracle: ContentInterpreter.run (fused master-regex
    scan) vs ``reference_interpret`` over random operator sequences."""
    content = b" ".join(parts)
    if not content.strip():
        return
    assert_same_result(fused_interpret(content), reference_interpret(content))


@given(objects)
@settings(max_examples=150, deadline=None)
def test_fused_indirect_parse_equals_parser(obj):
    """Round-3 fused object parser: for ``N G obj <obj> endobj`` built
    from arbitrary object trees, the fused single-pass result must
    EQUAL the canonical tokenize+parse result (values AND offsets)."""
    from pdf_parser_spark.kernel.cos import (
        Parser, _FusedBail, _fused_parse_indirect,
    )

    src = b"7 0 obj " + serialize(obj) + b" endobj"
    slow = Parser(src, 0).parse()
    try:
        fast = _fused_parse_indirect(src, 0)
    except _FusedBail:
        return  # bail path IS the canonical parser — nothing to check
    assert fast == slow


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=400, deadline=None)
def test_fused_parse_at_agrees_with_parser_on_noise(data):
    """parse_object_at (fused + fallback) must agree with the pure
    Parser on arbitrary bytes: same object or same error kind/offset —
    the fused path may only ever bail, never diverge."""
    from pdf_parser_spark.kernel.cos import Parser, ParserError, parse_object_at

    src = b"3 0 obj " + data + b" endobj"
    try:
        slow = Parser(src, 0).parse()
        slow_err = None
    except ParserError as e:
        slow, slow_err = None, (e.kind, e.offset)
    try:
        fast = parse_object_at(src, 0)
        fast_err = None
    except ParserError as e:
        fast, fast_err = None, (e.kind, e.offset)
    assert fast_err == slow_err
    if slow is not None:
        assert fast == slow
