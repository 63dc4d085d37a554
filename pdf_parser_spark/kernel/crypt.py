"""[EXTENSION] Standard security handler: empty-user-password RC4 and
AESV2 decryption (PDF 32000-1 §7.6.3: V1/V2, and V4 RC4 or AESV2 crypt
filters, R2/R3/R4).

The reference has no /Encrypt handling at all (nothing in
/root/reference/src/ touches it) and would extract RC4 ciphertext as
mojibake. Round 5 first added detection (parse_error='encrypted');
this module adds the recovery path for the most common real-corpus
case: documents encrypted with an OWNER password only, i.e. the user
password is empty — the standard algorithms then derive the file key
from public material in the trailer, so the text is extractable
without any secret. Everything here is the published spec:

  Algorithm 2  file-key derivation   MD5(pad+O+P+ID0) [x51 for R3]
  Algorithm 4  user-pw check, R2     RC4(key, PAD) == U
  Algorithm 5  user-pw check, R3     19 xor-keyed RC4 rounds over
                                     MD5(PAD + ID0), compare U[:16]
  Algorithm 1  per-object key        MD5(key + num<3,LE> + gen<2,LE>)

V4 crypt filters are supported for /StdCF with /CFM /V2 (RC4) AND
/CFM /AESV2 (AES-128-CBC, the post-Acrobat-7 default), with /StmF and
/StrF naming /StdCF or /Identity (per-class plaintext pass-through).
The AES block cipher is the ``cryptography`` package's; the PKCS#7
padding and the IV layout are checked here. RC4 stays in Python: the
package's ARC4 refuses 48-, 72- and 88..120-bit keys, which /Length
48..120 documents produce (file keys of 5..16 bytes, object keys of
min(n + 5, 16) bytes).
R4 key derivation is R3's plus the /EncryptMetadata false marker
bytes (§7.6.3.3 step f); AESV2 object keys append the 'sAlT' marker
(§7.6.2) and payloads are IV || CBC ciphertext with PKCS#7 padding.
Out of scope (detected, surfaced as parse_error='encrypted'): AESV3
/ V5 / R5 / R6 (SHA-2 handlers), non-Standard handlers, non-empty
user passwords.

Scope of decryption: stream bodies and strings of fetched objects
(§7.6.2: all strings and streams except the Encrypt dict's own
strings and the /ID entries). XRef streams are never encrypted
(§7.5.8.2) and predate V<=2 files anyway; ObjStm members inherit the
CONTAINER stream's decryption (the member objects' strings are not
re-encrypted individually, §7.5.7).
"""

from __future__ import annotations

import hashlib

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from .cos import (
    PdfArray, PdfDict, PdfIndirectObj, PdfInteger, PdfName, PdfString,
    PdfStreamObj,
)

# §7.6.3.3 Algorithm 2 step (a): the 32-byte padding string
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (symmetric: encrypt == decrypt)."""
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------- AES-128
# AESV2 crypt filters (§7.6.2): AES-128-CBC from the ``cryptography``
# package's native cipher. This module keeps the PDF side: the
# iv || ciphertext layout and the PKCS#7 pad with its strict strip.

def aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PKCS#7-padded CBC; returns iv || ciphertext (the §7.6.2 AESV2
    on-disk layout). Fixture/writer side."""
    pad_n = 16 - len(data) % 16
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return iv + enc.update(data + bytes([pad_n]) * pad_n) + enc.finalize()


def aes128_cbc_decrypt(key: bytes, iv_ct: bytes) -> bytes:
    """Inverse of :func:`aes128_cbc_encrypt`: strips the leading IV
    and the PKCS#7 padding. Raises ValueError on malformed input
    (extract_text surfaces it as a parse_error row)."""
    if len(iv_ct) < 32 or len(iv_ct) % 16:
        raise ValueError("AESV2 payload not block-aligned")
    dec = Cipher(algorithms.AES(key), modes.CBC(iv_ct[:16])).decryptor()
    out = dec.update(iv_ct[16:]) + dec.finalize()
    pad_n = out[-1]
    if not 1 <= pad_n <= 16 or out[-pad_n:] != bytes([pad_n]) * pad_n:
        raise ValueError("AESV2 bad padding")
    return out[:-pad_n]


class UnsupportedEncryption(Exception):
    """Shape outside the Standard-handler, empty-user-password envelope
    (V1/V2 RC4, V4 with RC4 or AESV2 crypt filters; R2/R3/R4); the
    caller surfaces parse_error='encrypted'."""


class StandardDecryptor:
    """File-level decryptor for one document, empty user password."""

    def __init__(self, enc: PdfDict, id0: bytes):
        filt = enc.get("Filter")
        if not (isinstance(filt, PdfName) and filt.value == "Standard"):
            raise UnsupportedEncryption("non-Standard security handler")
        v = enc.get("V")
        r = enc.get("R")
        if not (isinstance(v, PdfInteger) and v.value in (1, 2, 4)):
            raise UnsupportedEncryption(f"V={getattr(v, 'value', v)}")
        if not (isinstance(r, PdfInteger) and r.value in (2, 3, 4)):
            raise UnsupportedEncryption(f"R={getattr(r, 'value', r)}")
        o, u, p = enc.get("O"), enc.get("U"), enc.get("P")
        if not (isinstance(o, PdfString) and isinstance(u, PdfString)
                and isinstance(p, PdfInteger)):
            raise UnsupportedEncryption("missing O/U/P")
        length = enc.get("Length")
        nbits = length.value if isinstance(length, PdfInteger) else 40
        if nbits % 8 or not 40 <= nbits <= 128:
            raise UnsupportedEncryption(f"Length={nbits}")
        self.encrypt_metadata = True
        self.streams_encrypted = True
        self.strings_encrypted = True
        self.aes = False
        self._v4_len_bits = 0
        if v.value == 4:
            self._init_v4(enc)
            if self.aes:
                nbits = 128  # AESV2 is always AES-128 (§7.6.2)
            elif self._v4_len_bits:
                nbits = self._v4_len_bits
        self.r = r.value
        # Algorithm 2 step (h): R2 keys are ALWAYS 5 bytes, whatever
        # /Length claims; R3+ use Length/8 (V1 defaults Length to 40)
        self.key_len = 5 if (v.value == 1 or r.value == 2) \
            else nbits // 8
        self.key = self._file_key(o.value, p.value, id0)
        if not self._user_password_empty(u.value, id0):
            raise UnsupportedEncryption("user password is not empty")

    def _init_v4(self, enc: PdfDict) -> None:
        """V4 crypt filters (§7.6.5): /StmF and /StrF each name
        /StdCF (decrypt that class) or /Identity — the DEFAULT when
        absent — meaning that class is NOT encrypted. /StdCF must be
        CFM /V2 (RC4) or /AESV2 (sets ``self.aes``) when referenced;
        other methods and custom filter names are rejected. Stores
        the crypt-filter /Length override in BITS in
        ``self._v4_len_bits`` (0 = not stated)."""
        def class_flag(which: str) -> bool:
            name = enc.get(which)
            if name is None:
                return False  # spec default: Identity
            if not isinstance(name, PdfName):
                raise UnsupportedEncryption(f"bad {which}")
            if name.value == "Identity":
                return False
            if name.value == "StdCF":
                return True
            raise UnsupportedEncryption(f"{which}={name.value}")

        self.streams_encrypted = class_flag("StmF")
        self.strings_encrypted = class_flag("StrF")
        if self.streams_encrypted or self.strings_encrypted:
            cf = enc.get("CF")
            stdcf = cf.get("StdCF") if isinstance(cf, PdfDict) else None
            cfm = stdcf.get("CFM") if isinstance(stdcf, PdfDict) else None
            if not (isinstance(cfm, PdfName)
                    and cfm.value in ("V2", "AESV2")):
                raise UnsupportedEncryption(
                    f"V4 CFM={getattr(cfm, 'value', cfm)}")
            self.aes = cfm.value == "AESV2"
            # crypt-filter /Length overrides the (deprecated-in-V4)
            # top-level one. Table 25 says BITS, but Acrobat has
            # always written BYTES (16) here — accept both readings:
            # 5..16 = bytes, 40..128 multiple-of-8 = bits.
            cl = stdcf.get("Length")
            if isinstance(cl, PdfInteger):
                v = cl.value
                if 5 <= v <= 16:
                    self._v4_len_bits = v * 8
                elif 40 <= v <= 128 and v % 8 == 0:
                    self._v4_len_bits = v
                else:
                    raise UnsupportedEncryption(f"StdCF Length={v}")
        em = enc.get("EncryptMetadata")
        if getattr(em, "value", True) is False:
            self.encrypt_metadata = False

    # ----------------------------------------------------- algorithms

    def _file_key(self, o: bytes, p: int, id0: bytes) -> bytes:
        """Algorithm 2 with the empty user password."""
        h = hashlib.md5()
        h.update(PAD)                                   # padded empty pw
        h.update(o[:32])
        h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))  # signed P, LE
        h.update(id0)
        if self.r >= 4 and not self.encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")               # step (f)
        key = h.digest()
        if self.r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:self.key_len]).digest()
        return key[:self.key_len]

    def _user_password_empty(self, u: bytes, id0: bytes) -> bool:
        if self.r == 2:                                 # Algorithm 4
            return rc4(self.key, PAD) == u[:32]
        # Algorithm 5 (R3): MD5(PAD + ID0), 20 RC4 rounds with the
        # round index XORed into every key byte; compare first 16
        step = hashlib.md5(PAD + id0).digest()
        for i in range(20):
            rk = bytes(b ^ i for b in self.key)
            step = rc4(rk, step)
        return step[:16] == u[:16]

    def object_key(self, num: int, gen: int) -> bytes:
        """Algorithm 1: per-object key (AESV2 appends the spec's
        'sAlT' marker bytes to the hash input)."""
        h = hashlib.md5(self.key
                        + (num & 0xFFFFFF).to_bytes(3, "little")
                        + (gen & 0xFFFF).to_bytes(2, "little")
                        + (b"sAlT" if self.aes else b"")).digest()
        return h[:min(self.key_len + 5, 16)]

    # -------------------------------------------------------- surface

    def decrypt_bytes(self, data: bytes, num: int, gen: int) -> bytes:
        # writers store empty strings and streams as zero bytes, not
        # as an IV plus one padding block
        if not data:
            return b""
        if self.aes:
            return aes128_cbc_decrypt(self.object_key(num, gen), data)
        return rc4(self.object_key(num, gen), data)

    def decrypt_strings(self, obj, num: int, gen: int):
        """Rebuild ``obj`` with every PdfString RC4-decrypted under the
        owning object's key (§7.6.2). Container offsets preserved so
        golden-offset tests stay meaningful; non-string leaves are
        shared, not copied."""
        if isinstance(obj, PdfString):
            return PdfString(self.decrypt_bytes(obj.value, num, gen),
                             obj.offset)
        if isinstance(obj, PdfArray):
            return PdfArray(tuple(self.decrypt_strings(x, num, gen)
                                  for x in obj.items), obj.offset)
        if isinstance(obj, PdfDict):
            return PdfDict(tuple((k, self.decrypt_strings(v, num, gen))
                                 for k, v in obj.entries), obj.offset)
        if isinstance(obj, PdfStreamObj):
            return PdfStreamObj(obj.obj_num, obj.gen_num,
                                self.decrypt_strings(obj.dict, num, gen),
                                obj.data_offset, obj.offset)
        if isinstance(obj, PdfIndirectObj):
            return PdfIndirectObj(obj.obj_num, obj.gen_num,
                                  self.decrypt_strings(obj.content,
                                                       num, gen),
                                  obj.offset)
        return obj
