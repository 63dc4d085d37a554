"""[EXTENSION] Standard-security-handler decryption
(kernel/crypt.py): empty-user-password RC4 (V1/R2, V2/R3, V4 crypt
filters CFM /V2) and AES-128-CBC (V4 CFM /AESV2) documents decrypt
to golden text; everything outside that envelope still surfaces the
structured parse_error='encrypted'. The fixtures are
encrypted FORWARD in fixtures.py with the spec algorithms, so a
decryptor that merely inverts its own bugs cannot pass — the U
validation entry and per-object keys must all line up."""

from __future__ import annotations

import pytest

from pdf_parser_spark.fixtures import (
    PdfBuilder, _scaffold, get_fixture, lit, pdf_encrypted_rc4,
)
from pdf_parser_spark.kernel.extract import extract_text


@pytest.mark.parametrize("r", [2, 3, 4])
def test_empty_password_rc4_decrypts_to_golden(r):
    pdf, golden = pdf_encrypted_rc4(r=r)
    res = extract_text(pdf)
    assert res["parse_error"] is None
    assert res["text"] == golden["text"]
    assert res["n_pages"] == golden["n_pages"]
    assert len(res["spans"]) == golden["n_spans"]


@pytest.mark.parametrize("r", [2, 3, 4])
def test_strings_decrypt_under_owning_object_key(r):
    from pdf_parser_spark.kernel.cos import PdfIndirectRef, PdfString
    from pdf_parser_spark.kernel.doc import PdfDocument

    pdf, _ = pdf_encrypted_rc4(r=r)
    doc = PdfDocument(pdf)
    s = doc.get_object(PdfIndirectRef(8, 0))
    assert isinstance(s, PdfString)
    assert s.value == b"plain string"


def test_wrong_user_password_still_structured_error():
    """The original pdf-encrypted broken fixture carries all-zero O/U
    — U validation fails, so it must stay parse_error='encrypted'
    (never decrypt-to-garbage)."""
    pdf, golden = get_fixture("pdf-encrypted")
    res = extract_text(pdf)
    assert res["parse_error"] == "encrypted"
    assert res["text"] == ""


def test_unsupported_shapes_stay_encrypted():
    """AESV3/V5, custom filter names, and non-Standard handlers are
    out of the envelope: detected, not mangled. (AESV2 is supported
    since late round 5 — its wrong-password case is covered by the
    <00> /U shapes failing validation, see the V4 entry here.)"""
    for enc in (b"<</Filter /Standard /V 4 /R 4"
                b" /CF <</StdCF <</CFM /AESV3>>>> /StmF /StdCF"
                b" /O <00> /U <00> /P -1>>",
                b"<</Filter /Standard /V 4 /R 4"
                b" /CF <</StdCF <</CFM /AESV2>>>> /StmF /StdCF"
                b" /O <00> /U <00> /P -1>>",
                b"<</Filter /Standard /V 5 /R 6 /O <00> /U <00> /P -1>>",
                b"<</Filter /Standard /V 4 /R 4 /StmF /MyFilter"
                b" /O <00> /U <00> /P -1>>",
                b"<</Filter /MySecret /V 1 /R 2 /O <00> /U <00> /P -1>>",
                b"<</Filter /Standard /V 2 /R 3 /Length 129"
                b" /O <00> /U <00> /P -1>>"):
        b = PdfBuilder()
        _scaffold(b)
        b.add_stream(4, b"", b"BT /F1 12 Tf 72 720 Td "
                     + lit("x") + b" Tj ET")
        b.add(9, enc)
        pdf = b.build(trailer_extra=b" /Encrypt 9 0 R")
        res = extract_text(pdf)
        assert res["parse_error"] == "encrypted", enc
        assert res["text"] == ""


def test_empty_password_aesv2_decrypts_to_golden():
    """V4 /StdCF CFM /AESV2 (AES-128-CBC, post-Acrobat-7 default):
    the forward-encrypted fixture extracts its golden text and the
    planted string decrypts under the owning object's sAlT key."""
    from pdf_parser_spark.fixtures import pdf_encrypted_aes
    from pdf_parser_spark.kernel.cos import PdfIndirectRef, PdfString
    from pdf_parser_spark.kernel.doc import PdfDocument

    pdf, golden = pdf_encrypted_aes()
    res = extract_text(pdf)
    assert res["parse_error"] is None
    assert res["text"] == golden["text"]
    doc = PdfDocument(pdf)
    s = doc.get_object(PdfIndirectRef(8, 0))
    assert isinstance(s, PdfString)
    assert s.value == b"plain string"


def test_aesv2_empty_string_decrypts_to_empty():
    """A zero-length string in an AESV2 document is stored as ``()``,
    with no IV and no padding block; it decrypts to b"" instead of
    failing the whole document."""
    from pdf_parser_spark.fixtures import pdf_encrypted_aes

    pdf, golden = pdf_encrypted_aes(font_extra=b" /Name ()")
    res = extract_text(pdf)
    assert res["parse_error"] is None
    assert res["text"] == golden["text"]


def test_aes128_fips197_vector():
    """FIPS-197 Appendix C.1 — the AES primitive is pinned to the
    published vector independently of the fixtures (which
    forward-encrypt with the same primitive)."""
    from pdf_parser_spark.kernel.crypt import (
        aes128_cbc_decrypt, aes128_cbc_encrypt,
        aes128_decrypt_block, aes128_encrypt_block,
    )

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = aes128_encrypt_block(key, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert aes128_decrypt_block(key, ct) == pt
    iv = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(200))[:n]
        assert aes128_cbc_decrypt(
            key, aes128_cbc_encrypt(key, iv, data)) == data, n
    import pytest as _pytest
    with _pytest.raises(ValueError):
        aes128_cbc_decrypt(key, bytes(16))     # IV only, no blocks
    with _pytest.raises(ValueError):
        aes128_cbc_decrypt(key, bytes(33))     # not block-aligned


def test_aes128_cbc_matches_cryptography_library():
    """Seeded differential of the from-scratch AES-128 against the
    ``cryptography`` package: block encrypt/decrypt, PKCS#7-padded CBC
    encryption (iv || ciphertext, the AESV2 layout) byte for byte,
    and decryption of arbitrary block-aligned payloads, where a
    bad-padding ValueError must coincide with the library's unpadder
    rejecting the same plaintext."""
    import random

    from cryptography.hazmat.primitives import padding
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    from pdf_parser_spark.kernel.crypt import (
        aes128_cbc_decrypt, aes128_cbc_encrypt,
        aes128_decrypt_block, aes128_encrypt_block,
    )

    rng = random.Random(0xAE5)
    for trial in range(48):
        key = rng.randbytes(16)
        iv = rng.randbytes(16)
        block = rng.randbytes(16)
        ecb = Cipher(algorithms.AES(key), modes.ECB())
        lib_block = ecb.encryptor().update(block)
        assert aes128_encrypt_block(key, block) == lib_block, trial
        assert aes128_decrypt_block(key, block) == \
            ecb.decryptor().update(block), trial

        data = rng.randbytes(rng.choice([0, 1, 15, 16, 17, 31, 32,
                                         rng.randrange(200)]))
        padder = padding.PKCS7(128).padder()
        padded = padder.update(data) + padder.finalize()
        cbc = Cipher(algorithms.AES(key), modes.CBC(iv))
        lib_ct = iv + cbc.encryptor().update(padded)
        assert aes128_cbc_encrypt(key, iv, data) == lib_ct, trial
        assert aes128_cbc_decrypt(key, lib_ct) == data, trial

        # arbitrary iv || ciphertext; on even trials the byte before
        # the last block is steered (CBC XORs it into the last
        # plaintext byte) so the padding reads as a valid 0x01
        payload = rng.randbytes(16 * rng.randrange(2, 6))

        def lib_raw(p: bytes) -> bytes:
            return Cipher(algorithms.AES(key), modes.CBC(p[:16])) \
                .decryptor().update(p[16:])

        if trial % 2 == 0:
            k = len(payload) - 17
            steer = payload[k] ^ lib_raw(payload)[-1] ^ 1
            payload = payload[:k] + bytes([steer]) + payload[k + 1:]
        unpadder = padding.PKCS7(128).unpadder()
        try:
            want = unpadder.update(lib_raw(payload)) + unpadder.finalize()
        except ValueError:
            want = None
        try:
            got = aes128_cbc_decrypt(key, payload)
        except ValueError:
            got = None
        assert got == want, trial
        if trial % 2 == 0:
            assert want is not None, trial


def test_aes_corrupted_payload_is_parse_error_not_mojibake():
    """Flipping ciphertext bytes must surface a parse_error row (bad
    CBC padding), never silently emit garbled text."""
    from pdf_parser_spark.fixtures import pdf_encrypted_aes

    pdf, _ = pdf_encrypted_aes()
    # corrupt the LAST 16 bytes of the content stream's ciphertext
    # (the padding block): find the stream via its endstream marker
    i = pdf.index(b"\nendstream")
    bad = pdf[:i - 16] + bytes(16) + pdf[i:]
    res = extract_text(bad)
    assert res["text"] == ""
    assert res["parse_error"] is not None


def test_v4_identity_classes_pass_plaintext_through():
    """V4 with /StmF and /StrF absent defaults BOTH classes to
    /Identity (§7.6.5): nothing is encrypted, so a plaintext document
    whose trailer still carries the /Encrypt dict must extract as-is
    — decrypting it would garble plaintext. Requires the empty user
    password to validate, so U is computed for real (R4 = Algorithm
    5 over the R3-style key with the R4 step-f marker absent)."""
    import hashlib

    from pdf_parser_spark.kernel.crypt import PAD, rc4

    o = bytes(range(32))
    p = -44
    id0 = bytes.fromhex("00112233445566778899aabbccddeeff")
    key = hashlib.md5(PAD + o + (p & 0xFFFFFFFF).to_bytes(4, "little")
                      + id0).digest()
    for _ in range(50):
        key = hashlib.md5(key[:16]).digest()
    key = key[:16]
    step = hashlib.md5(PAD + id0).digest()
    for i in range(20):
        step = rc4(bytes(bb ^ i for bb in key), step)
    u = step + bytes(16)

    b = PdfBuilder()
    _scaffold(b)
    b.add_stream(4, b"", b"BT /F1 12 Tf 72 720 Td "
                 + lit("identity plaintext") + b" Tj ET")
    b.add(9, b"<</Filter /Standard /V 4 /R 4 /Length 128"
             b" /O <" + o.hex().encode() + b"> /U <" + u.hex().encode()
             + b"> /P -44>>")
    pdf = b.build(trailer_extra=b" /Encrypt 9 0 R /ID [<"
                                + id0.hex().encode() + b"> <"
                                + id0.hex().encode() + b">]")
    res = extract_text(pdf)
    assert res["parse_error"] is None
    assert res["text"] == "identity plaintext"


def test_tampered_u_entry_rejected():
    """Flipping one byte of /U must flip validation (the decryptor
    derives the same key but refuses to run)."""
    pdf, _ = pdf_encrypted_rc4(r=2)
    # /U <hex> — find it via the O constant's neighbourhood: U is the
    # second 64-hex-digit string after /U
    marker = b"/U <"
    i = pdf.index(marker) + len(marker)
    bad = pdf[:i] + (b"0" if pdf[i:i + 1] != b"0" else b"1") + pdf[i + 1:]
    res = extract_text(bad)
    assert res["parse_error"] == "encrypted"


def test_encrypted_objstm_and_xref_stream_exemptions():
    """The three §7.6 layering rules at once: (1) an encrypted ObjStm
    container decrypts as a whole and its MEMBER strings are exempt
    from per-object re-decryption (§7.5.7); (2) the XRef stream is
    never encrypted (§7.5.8.2); (3) regular streams decrypt before
    their /Filter chain. Built forward: disk bytes =
    RC4(objkey(n), Flate(data)) — encryption applied last on write."""
    import hashlib
    import zlib

    from pdf_parser_spark.fixtures import lit
    from pdf_parser_spark.kernel.cos import PdfIndirectRef, PdfString
    from pdf_parser_spark.kernel.crypt import PAD, rc4
    from pdf_parser_spark.kernel.doc import PdfDocument

    o = bytes(range(32))
    p = -44
    id0 = bytes.fromhex("ffeeddccbbaa99887766554433221100")
    key = hashlib.md5(PAD + o + (p & 0xFFFFFFFF).to_bytes(4, "little")
                      + id0).digest()
    for _ in range(50):
        key = hashlib.md5(key[:16]).digest()
    key = key[:16]
    step = hashlib.md5(PAD + id0).digest()
    for i in range(20):
        step = rc4(bytes(bb ^ i for bb in key), step)
    u = step + bytes(16)

    def objkey(num: int, gen: int = 0) -> bytes:
        return hashlib.md5(key + num.to_bytes(3, "little")
                           + gen.to_bytes(2, "little")).digest()[:16]

    # members 1,2,3,5 = document skeleton; member 8 = a PLAIN string
    # (exempt: the container stream is the encryption layer)
    inner = {
        1: b"<</Type /Catalog /Pages 2 0 R>>",
        2: b"<</Type /Pages /Kids [3 0 R] /Count 1>>",
        3: b"<</Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources <</Font <</F1 5 0 R>>>>>>",
        5: b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>",
        8: b"<" + b"member plain".hex().encode() + b">",
    }
    pairs, bodies = [], bytearray()
    for num, body in inner.items():
        pairs.append(f"{num} {len(bodies)}".encode())
        bodies += body + b"\n"
    header = b" ".join(pairs) + b"\n"
    objstm_plain = header + bytes(bodies)
    first = len(header)

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    content = (b"BT /F1 12 Tf 72 720 Td "
               + lit("objstm crypt works") + b" Tj ET")
    enc_content = rc4(objkey(4), content)
    offsets[4] = len(out)
    out += (b"4 0 obj\n<</Length " + str(len(enc_content)).encode()
            + b">>\nstream\n" + enc_content + b"\nendstream\nendobj\n")
    enc_stm = rc4(objkey(6), zlib.compress(objstm_plain))
    offsets[6] = len(out)
    out += (b"6 0 obj\n<</Type /ObjStm /N " + str(len(inner)).encode()
            + b" /First " + str(first).encode()
            + b" /Filter /FlateDecode /Length "
            + str(len(enc_stm)).encode()
            + b">>\nstream\n" + enc_stm + b"\nendstream\nendobj\n")
    offsets[9] = len(out)
    out += (b"9 0 obj\n<</Filter /Standard /V 2 /R 3 /Length 128 /O <"
            + o.hex().encode() + b"> /U <" + u.hex().encode()
            + b"> /P -44>>\nendobj\n")
    xref_off = len(out)
    size = 10
    rows = [bytes([0, 0, 0, 255])]
    for num in range(1, size):
        if num in inner:
            idx = list(inner).index(num)
            rows.append(bytes([2]) + (6).to_bytes(2, "big") + bytes([idx]))
        elif num in offsets:
            rows.append(bytes([1]) + offsets[num].to_bytes(2, "big")
                        + bytes([0]))
        elif num == 7:
            rows.append(bytes([1]) + xref_off.to_bytes(2, "big")
                        + bytes([0]))
        else:
            rows.append(bytes([0, 0, 0, 0]))
    # XRef stream: Flate only, NOT encrypted (§7.5.8.2)
    data = zlib.compress(b"".join(rows))
    out += (b"7 0 obj\n<</Type /XRef /Size " + str(size).encode()
            + b" /Root 1 0 R /Encrypt 9 0 R /ID [<" + id0.hex().encode()
            + b"> <" + id0.hex().encode()
            + b">] /W [1 2 1] /Filter /FlateDecode /Length "
            + str(len(data)).encode() + b">>\nstream\n" + data
            + b"\nendstream\nendobj\n")
    out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"

    pdf = bytes(out)
    res = extract_text(pdf)
    assert res["parse_error"] is None
    assert res["text"] == "objstm crypt works"
    doc = PdfDocument(pdf)
    s = doc.get_object(PdfIndirectRef(8, 0))
    assert isinstance(s, PdfString)
    assert s.value == b"member plain"  # exempt — NOT doubly decrypted


def test_pad_constant_matches_published_value():
    """PAD is pinned to the spec's published bytes INDEPENDENTLY of
    kernel/crypt.py: the fixtures forward-encrypt by importing PAD, so
    without this pin a corrupted constant would self-cancel (both
    sides wrong) and every crypt test would stay green while real
    encrypted documents failed validation."""
    from pdf_parser_spark.kernel.crypt import PAD

    assert PAD.hex() == ("28bf4e5e4e758a4164004e56fffa0108"
                         "2e2e00b6d0683e802f0ca9fe6453697a")
    assert len(PAD) == 32


def test_rc4_known_vector():
    """RC4 test vector (public, from the original cypherpunks posting
    / RFC 6229 family): Key 'Key', plaintext 'Plaintext'."""
    from pdf_parser_spark.kernel.crypt import rc4

    out = rc4(b"Key", b"Plaintext")
    assert out.hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Key", out) == b"Plaintext"
