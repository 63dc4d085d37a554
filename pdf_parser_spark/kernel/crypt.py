"""[EXTENSION] Standard security handler: empty-user-password RC4
decryption (PDF 32000-1 §7.6.3: V1/V2 and V4 RC4 crypt filters,
R2/R3/R4).

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
/CFM /AESV2 (AES-128-CBC, the post-Acrobat-7 default; pure-Python
FIPS-197 below, pinned to the published C.1 vector), with /StmF and
/StrF naming /StdCF or /Identity (per-class plaintext pass-through).
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
# Pure-Python FIPS-197 (for AESV2 crypt filters, §7.6.2). Tables are
# GENERATED from the GF(2^8) definition at import (no copied constant
# blobs); the cipher is pinned to the published FIPS-197 C.1 vector in
# tests/test_crypt.py. Throughput is ~100 KB/s/core — a recovery path
# for a small corpus fraction, not a hot loop.

def _gf_mul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _make_sbox() -> tuple[bytes, bytes]:
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gf_mul(x, y) == 1:
                inv[x] = y
                break
    sbox = bytearray(256)
    for x in range(256):
        b = inv[x]
        s = 0x63
        for i in range(8):
            bit = ((b >> i) ^ (b >> ((i + 4) % 8)) ^ (b >> ((i + 5) % 8))
                   ^ (b >> ((i + 6) % 8)) ^ (b >> ((i + 7) % 8))) & 1
            s ^= bit << i
        sbox[x] = s
    invbox = bytearray(256)
    for x in range(256):
        invbox[sbox[x]] = x
    return bytes(sbox), bytes(invbox)


_SBOX, _INV_SBOX = _make_sbox()
assert _SBOX[0] == 0x63 and _SBOX[1] == 0x7C  # FIPS-197 figure 7

# per-multiplier GF(2^8) lookup tables for MixColumns (the _gf_mul
# bit loop per state byte measured 25x slower than a table read)
_MUL = {m: bytes(_gf_mul(x, m) for x in range(256))
        for m in (1, 2, 3, 9, 11, 13, 14)}


def _expand_key128(key: bytes) -> list[bytes]:
    """11 round keys of 16 bytes each."""
    w = [key[i:i + 4] for i in range(0, 16, 4)]
    rcon = 1
    for i in range(4, 44):
        t = w[i - 1]
        if i % 4 == 0:
            t = bytes(_SBOX[b] for b in t[1:] + t[:1])
            t = bytes([t[0] ^ rcon, t[1], t[2], t[3]])
            rcon = _gf_mul(rcon, 2)
        w.append(bytes(a ^ b for a, b in zip(w[i - 4], t)))
    return [b"".join(w[r * 4:r * 4 + 4]) for r in range(11)]


def _shift_rows(s: bytearray, inverse: bool) -> bytearray:
    out = bytearray(16)
    for c in range(4):
        for r in range(4):
            src = (c + (-r if inverse else r)) % 4
            out[c * 4 + r] = s[src * 4 + r]
    return out


def _mix_columns(s: bytearray, inverse: bool) -> bytearray:
    m = ((14, 11, 13, 9) if inverse else (2, 3, 1, 1))
    t0, t1, t2, t3 = (_MUL[m[0]], _MUL[m[1]], _MUL[m[2]], _MUL[m[3]])
    out = bytearray(16)
    for c in range(0, 16, 4):
        a0, a1, a2, a3 = s[c], s[c + 1], s[c + 2], s[c + 3]
        out[c] = t0[a0] ^ t1[a1] ^ t2[a2] ^ t3[a3]
        out[c + 1] = t3[a0] ^ t0[a1] ^ t1[a2] ^ t2[a3]
        out[c + 2] = t2[a0] ^ t3[a1] ^ t0[a2] ^ t1[a3]
        out[c + 3] = t1[a0] ^ t2[a1] ^ t3[a2] ^ t0[a3]
    return out


def _encrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytearray(a ^ b for a, b in zip(block, rk[0]))
    for rnd in range(1, 10):
        s = bytearray(_SBOX[b] for b in s)
        s = _shift_rows(s, False)
        s = _mix_columns(s, False)
        s = bytearray(a ^ b for a, b in zip(s, rk[rnd]))
    s = bytearray(_SBOX[b] for b in s)
    s = _shift_rows(s, False)
    return bytes(a ^ b for a, b in zip(s, rk[10]))


def _decrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytearray(a ^ b for a, b in zip(block, rk[10]))
    for rnd in range(9, 0, -1):
        s = _shift_rows(s, True)
        s = bytearray(_INV_SBOX[b] for b in s)
        s = bytearray(a ^ b for a, b in zip(s, rk[rnd]))
        s = _mix_columns(s, True)
    s = _shift_rows(s, True)
    s = bytearray(_INV_SBOX[b] for b in s)
    return bytes(a ^ b for a, b in zip(s, rk[0]))


def aes128_encrypt_block(key: bytes, block: bytes) -> bytes:
    return _encrypt_block(_expand_key128(key), block)


def aes128_decrypt_block(key: bytes, block: bytes) -> bytes:
    return _decrypt_block(_expand_key128(key), block)


def aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PKCS#7-padded CBC; returns iv || ciphertext (the §7.6.2 AESV2
    on-disk layout). Fixture/writer side."""
    rk = _expand_key128(key)  # expand ONCE, not per block
    pad_n = 16 - len(data) % 16
    data += bytes([pad_n]) * pad_n
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i:i + 16], prev))
        prev = _encrypt_block(rk, blk)
        out += prev
    return bytes(out)


def aes128_cbc_decrypt(key: bytes, iv_ct: bytes) -> bytes:
    """Inverse of :func:`aes128_cbc_encrypt`: strips the leading IV
    and the PKCS#7 padding. Raises ValueError on malformed input
    (extract_text surfaces it as a parse_error row)."""
    if len(iv_ct) < 32 or len(iv_ct) % 16:
        raise ValueError("AESV2 payload not block-aligned")
    rk = _expand_key128(key)  # expand ONCE, not per block
    prev, ct = iv_ct[:16], iv_ct[16:]
    out = bytearray()
    for i in range(0, len(ct), 16):
        blk = ct[i:i + 16]
        out += bytes(a ^ b
                     for a, b in zip(_decrypt_block(rk, blk), prev))
        prev = blk
    pad_n = out[-1]
    if not 1 <= pad_n <= 16 or out[-pad_n:] != bytes([pad_n]) * pad_n:
        raise ValueError("AESV2 bad padding")
    return bytes(out[:-pad_n])


class UnsupportedEncryption(Exception):
    """Shape outside the V1/V2+R2/R3+Standard+empty-password envelope;
    the caller surfaces parse_error='encrypted'."""


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
