"""Whole-document model: object resolution, streams, catalog, page tree.

Reference parity:

- Document open sequence    ref src/lib.rs:26-54 (header -> trailer ->
                            xref -> root catalog -> page tree)
- Indirect object fetch     ref src/object.rs:331-374; the adaptive
                            200-byte buffer growth is obsolete with the
                            document in memory — we parse from the xref
                            offset and the lexer stops at endobj/stream
                            (SURVEY.md §2.2 J3)
- /Length resolve           ref src/object.rs:545-566 (direct int or
                            indirect ref, recursive fetch)
- Stream body read          ref src/object.rs:527-543 (exactly Length
                            bytes at the recorded data offset)
- Page tree DFS             ref src/page_tree.rs:32-133 (preorder
                            numbering from 1, contiguity asserted at
                            src/page_tree.rs:39-41)
- Resource/XObject project. ref src/page_tree.rs:147-182 (dict direct or
                            via indirect ref — both branches). Deviation
                            (SURVEY.md §2.7.4): XObject refs are returned
                            in *name-sorted* order, deterministic, where
                            the reference iterates a HashMap.

Extensions: ObjStm-resident objects, resource inheritance down the page
tree (PDF 32000-1 §7.7.3.4 — needed for text extraction), /Contents
collection.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .cos import (
    ParserError, PdfArray, PdfDict, PdfIndirectObj, PdfIndirectRef,
    PdfInteger, PdfName, PdfNull, PdfStreamObj, PdfString,
    parse_object_at,
)
from .fileparse import (
    XREF_FREE, XREF_IN_OBJSTM, XREF_OFFSET, PdfEncryptedError,
    PdfStructureError, XRefTable, load_xref_chain, parse_object_stream,
    validate_header,
)
from .filters import decode_stream


def _to_plain(obj):
    """COS object -> plain Python value (for filter parms etc.)."""
    if isinstance(obj, (PdfInteger,)):
        return obj.value
    if isinstance(obj, PdfName):
        return obj.value
    if isinstance(obj, PdfArray):
        return [_to_plain(v) for v in obj]
    if isinstance(obj, PdfDict):
        return {k: _to_plain(v) for k, v in obj.entries}
    if isinstance(obj, PdfNull) or obj is None:
        return None
    if hasattr(obj, "value"):
        return obj.value
    return obj


def _defilter(data: bytes, sdict: PdfDict, resolve) -> bytes:
    """Apply a stream dict's /Filter chain with its /DecodeParms (a
    dict for the first filter, or an array with one entry per filter);
    ``resolve`` dereferences indirect values."""
    filt = resolve(sdict.get("Filter"))
    if filt is None or isinstance(filt, PdfNull):
        return data
    if isinstance(filt, PdfName):
        names = [filt.value]
    elif isinstance(filt, PdfArray):
        names = [resolve(f).value for f in filt]
    else:
        raise PdfStructureError("bad /Filter")
    parms = resolve(sdict.get("DecodeParms") or sdict.get("DP"))
    if parms is None or isinstance(parms, PdfNull):
        parms_list = [None] * len(names)
    elif isinstance(parms, PdfDict):
        parms_list = [_to_plain(parms)] + [None] * (len(names) - 1)
    elif isinstance(parms, PdfArray):
        parms_list = [_to_plain(resolve(p)) for p in parms]
        parms_list += [None] * (len(names) - len(parms_list))
    else:
        raise PdfStructureError("bad /DecodeParms")
    return decode_stream(data, names, parms_list)


@dataclass
class PageInfo:
    """ref src/page.rs:28-32 (page_number, thumbnail, external_objects)
    + the content/resources the text extractor needs."""
    page_number: int  # 1-based preorder (ref src/page_tree.rs)
    dict: PdfDict
    resources: PdfDict | None
    contents: list  # list of PdfStreamObj
    xobject_refs: list  # [(name, PdfIndirectRef)] name-sorted
    thumbnail_ref: PdfIndirectRef | None


class PdfDocument:
    """One in-memory PDF document (the reference's ``PDF`` struct,
    src/lib.rs:17-54, with the File handle replaced by a bytes buffer)."""

    def __init__(self, buf: bytes):
        if len(buf) == 0:
            raise PdfStructureError("empty pdf buffer")
        self.buf = buf
        self.size = len(buf)  # ref src/lib.rs:56-58
        self.version = validate_header(buf)  # ref src/lib.rs:29
        self.xref: XRefTable = load_xref_chain(buf, self._stream_data_raw)
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict] = {}
        self.n_objects_parsed = 0
        trailer = self.xref.trailer_dict
        # /Encrypt probe BEFORE any string/stream is interpreted: an
        # encrypted document's structure parses fine but its strings
        # and content streams are RC4/AES ciphertext — extracting them
        # would silently emit mojibake (kernel/fileparse.py
        # PdfEncryptedError docstring; reference is equally blind).
        # [EXTENSION] Standard-handler documents with an EMPTY user
        # password (owner-password-only, the common crawl case) are
        # transparently decrypted for V1/V2 RC4 and V4 RC4 or AESV2
        # crypt filters, R2/R3/R4 (kernel/crypt.py); every other shape
        # — AESV3/V5+, non-Standard, real user passwords — surfaces
        # parse_error='encrypted'.
        self._crypt = None
        enc = trailer.get("Encrypt")
        if enc is not None and not isinstance(enc, PdfNull):
            from .crypt import StandardDecryptor, UnsupportedEncryption

            enc_obj = self.resolve(enc)
            if not isinstance(enc_obj, PdfDict):
                raise PdfEncryptedError("/Encrypt is not a dictionary")
            id0 = b""
            idv = trailer.get("ID")
            if (isinstance(idv, PdfArray) and len(idv)
                    and isinstance(idv[0], PdfString)):
                id0 = idv[0].value
            try:
                self._crypt = StandardDecryptor(enc_obj, id0)
            except UnsupportedEncryption as e:
                raise PdfEncryptedError(
                    f"trailer has /Encrypt ({e})") from e
        root_ref = trailer.get("Root")
        if not isinstance(root_ref, PdfIndirectRef):
            raise PdfStructureError("trailer /Root missing or not a ref")
        self.root_ref = root_ref

    # ---------------------------------------------------- object access

    def get_object(self, ref: PdfIndirectRef):
        """Resolve an indirect reference to its *content* object
        (ref src/object.rs:331-374 + ensure unwrap)."""
        cached = self._cache.get(ref.obj_num)
        if cached is not None:
            return cached
        typ, value, gen = self.xref.lookup(ref)
        if typ == XREF_FREE:
            obj = PdfNull(0)  # spec §7.3.10: ref to free object == null
        elif typ == XREF_OFFSET:
            parsed = parse_object_at(self.buf, value)
            self.n_objects_parsed += 1
            if isinstance(parsed, PdfIndirectObj):
                obj = parsed.content
            elif isinstance(parsed, PdfStreamObj):
                obj = parsed
            else:
                raise PdfStructureError(
                    f"object {ref.obj_num} at {value} is not indirect")
            # [EXTENSION] §7.6.2: strings are encrypted under the
            # OWNING object's key (in-file header numbers). ObjStm
            # members are exempt — their container stream decrypts as
            # a whole (§7.5.7) — so only this branch rewrites.
            if self._crypt is not None and self._crypt.strings_encrypted:
                obj = self._crypt.decrypt_strings(
                    obj, parsed.obj_num, parsed.gen_num)
        else:  # XREF_IN_OBJSTM [EXTENSION]
            stm_num, _idx = value
            objs = self._load_objstm(stm_num)
            if ref.obj_num not in objs:
                raise PdfStructureError(
                    f"object {ref.obj_num} not in ObjStm {stm_num}")
            obj = objs[ref.obj_num]
        self._cache[ref.obj_num] = obj
        return obj

    def resolve(self, obj):
        """Deref if indirect ref, else identity."""
        while isinstance(obj, PdfIndirectRef):
            obj = self.get_object(obj)
        return obj

    def _load_objstm(self, stm_num: int) -> dict:
        cached = self._objstm_cache.get(stm_num)
        if cached is not None:
            return cached
        stm = self.get_object(PdfIndirectRef(stm_num, 0))
        if not isinstance(stm, PdfStreamObj):
            raise PdfStructureError(f"ObjStm {stm_num} is not a stream")
        data = self.stream_data(stm)
        n = self.resolve(stm.dict.get("N")).value
        first = self.resolve(stm.dict.get("First")).value
        objs = parse_object_stream(data, n, first)
        self.n_objects_parsed += len(objs)
        self._objstm_cache[stm_num] = objs
        return objs

    # --------------------------------------------------------- streams

    def _stream_length(self, stm: PdfStreamObj) -> int:
        """/Length direct or via indirect ref (ref src/object.rs:545-566)."""
        length = stm.dict.get("Length")
        length = self.resolve(length)
        if not isinstance(length, PdfInteger) or length.value < 0:
            raise PdfStructureError("stream /Length invalid")
        return length.value

    def stream_raw(self, stm: PdfStreamObj) -> bytes:
        """Exactly Length bytes at the recorded data offset
        (ref src/object.rs:527-543). [EXTENSION] Decrypted (RC4 or
        AESV2, per the document's crypt filter) under the stream's own
        object key when the document is encrypted (BEFORE /Filter
        decode — §7.6.2 layering); XRef streams are never encrypted
        (§7.5.8.2). Known limit: under ``/EncryptMetadata false`` a
        ``/Type /Metadata`` stream is stored in plaintext (§7.6.3.3)
        but is still decrypted here, yielding garbage. Latent, because
        extraction never reads ``/Metadata``."""
        n = self._stream_length(stm)
        data = self.buf[stm.data_offset:stm.data_offset + n]
        if len(data) != n:
            raise PdfStructureError("stream body truncated")
        if self._crypt is not None and self._crypt.streams_encrypted:
            typ = stm.dict.get("Type")
            if not (isinstance(typ, PdfName) and typ.value == "XRef"):
                data = self._crypt.decrypt_bytes(
                    data, stm.obj_num, stm.gen_num)
        return data

    def stream_data(self, stm: PdfStreamObj) -> bytes:
        """Defiltered stream body: full /Filter chain + /DecodeParms
        (the reference honors only filters[0] — src/image.rs:116-123)."""
        return _defilter(self.stream_raw(stm), stm.dict, self.resolve)

    def _stream_data_raw(self, stm: PdfStreamObj) -> bytes:
        """Stream decode callback for xref-stream loading (runs before
        self is fully constructed — no xref lookups allowed, so /Length
        must be direct, which spec §7.5.8.2 requires for XRef streams;
        XRef streams are never encrypted, so nothing is decrypted)."""
        length = stm.dict.get("Length")
        if not isinstance(length, PdfInteger):
            raise PdfStructureError("xref stream /Length must be direct")
        data = self.buf[stm.data_offset:stm.data_offset + length.value]
        return _defilter(data, stm.dict, lambda obj: obj)

    # -------------------------------------------------------- page tree

    def catalog(self) -> PdfDict:
        """ref src/lib.rs:35-43: /Root -> Catalog dict, /Type checked."""
        cat = self.resolve(self.root_ref)
        if not isinstance(cat, PdfDict):
            raise PdfStructureError("catalog is not a dict")
        typ = cat.get("Type")
        if not (isinstance(typ, PdfName) and typ.value == "Catalog"):
            raise PdfStructureError("root /Type is not Catalog")
        return cat

    def pages(self) -> list[PageInfo]:
        """DFS preorder page flatten (ref src/page_tree.rs:60-133) with
        contiguity invariant 1..N (ref src/page_tree.rs:39-41) and
        [EXTENSION] attribute inheritance (Resources)."""
        cat = self.catalog()
        pages_ref = cat.get("Pages")
        if pages_ref is None:
            raise PdfStructureError("catalog has no /Pages")
        root = self.resolve(pages_ref)
        if not isinstance(root, PdfDict):
            raise PdfStructureError("/Pages is not a dict")
        typ = root.get("Type")
        if not (isinstance(typ, PdfName) and typ.value == "Pages"):
            raise PdfStructureError("page-tree root /Type is not Pages")
        out: list[PageInfo] = []
        seen: set[int] = set()
        self._walk_pages(root, root.get("Resources"), out, seen, depth=0)
        for i, p in enumerate(out):  # ref src/page_tree.rs:39-41
            assert p.page_number == i + 1
        return out

    def _walk_pages(self, node: PdfDict, inherited_resources, out, seen,
                    depth: int) -> None:
        if depth > 64:
            raise PdfStructureError("page tree too deep (cycle?)")
        kids = node.get("Kids")
        if kids is None:
            raise PdfStructureError("Pages node has no /Kids")
        kids = self.resolve(kids)
        for kid_ref in kids:
            if isinstance(kid_ref, PdfIndirectRef):
                if kid_ref.obj_num in seen:
                    raise PdfStructureError("page tree cycle")
                seen.add(kid_ref.obj_num)
            kid = self.resolve(kid_ref)
            if not isinstance(kid, PdfDict):
                raise PdfStructureError("page-tree kid is not a dict")
            typ = kid.get("Type")
            tname = typ.value if isinstance(typ, PdfName) else None
            res = kid.get("Resources")
            res = res if res is not None else inherited_resources
            if tname == "Page":
                out.append(self._make_page(kid, res, len(out) + 1))
            elif tname == "Pages":
                self._walk_pages(kid, res, out, seen, depth + 1)
            else:
                raise PdfStructureError("page nor pages")  # ref :129

    def _make_page(self, page_dict: PdfDict, resources, page_number: int
                   ) -> PageInfo:
        res = self.resolve(resources) if resources is not None else None
        if res is not None and not isinstance(res, PdfDict):
            raise PdfStructureError("/Resources is not a dict")
        # XObject projection (ref src/page_tree.rs:147-182); name-sorted
        # for determinism (reference HashMap order is nondeterministic —
        # SURVEY.md §2.7.4)
        xrefs = []
        if res is not None:
            xobj = res.get("XObject")
            if xobj is not None:
                xobj = self.resolve(xobj)  # both branches, ref :158-177
                if isinstance(xobj, PdfDict):
                    for name, v in xobj.entries:
                        if isinstance(v, PdfIndirectRef):
                            xrefs.append((name, v))
                    xrefs.sort(key=lambda kv: kv[0])
        thumb = page_dict.get("Thumb")  # ref src/page_tree.rs:184-193
        thumb = thumb if isinstance(thumb, PdfIndirectRef) else None
        contents = []
        c = page_dict.get("Contents")
        if c is not None:
            c = self.resolve(c)
            if isinstance(c, PdfStreamObj):
                contents = [c]
            elif isinstance(c, PdfArray):
                for item in c:
                    s = self.resolve(item)
                    if isinstance(s, PdfStreamObj):
                        contents.append(s)
        return PageInfo(page_number, page_dict, res, contents, xrefs, thumb)

    def page_content_bytes(self, page: PageInfo) -> bytes:
        """Concatenate a page's content streams with a whitespace joint
        (spec: the division between streams is a lexical token boundary)."""
        return b"\n".join(self.stream_data(s) for s in page.contents)
