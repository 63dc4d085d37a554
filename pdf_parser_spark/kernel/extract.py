"""Top-level per-document extraction entry point.

``extract_text(pdf_bytes)`` runs the full pipeline the reference drives
via ``PDF::new`` + ``PDF::extract_image`` (src/lib.rs:26-72) — header,
trailer, xref, catalog, page tree — then the [EXTENSION] content-stream
text interpretation, returning one plain-dict result per document.

Unlike the reference, which unwraps/panics on malformed input
(src/lib.rs:68, src/page.rs:101), extraction NEVER raises: failures are
recorded in ``parse_error`` and the row is still emitted (north_rule:
per-turn parse-failure accounting, no job aborts).
"""

from __future__ import annotations

from .cos import LexerError, ParserError, PdfDict
from .doc import PdfDocument
from .fileparse import PdfEncryptedError, PdfStructureError
from .images import ImageError, extract_inline_images, extract_page_images
from .textops import ContentInterpreter, build_font, spans_to_text


def extract_text(pdf_bytes: bytes, with_images: bool = False,
                 pages: list[int] | None = None) -> dict:
    """Extract text (and optionally images) from one PDF byte buffer.

    Returns a dict with keys:
      text        str   reading-ordered extracted text ('' on failure)
      spans       list  of TextSpan (page:int, x:float, y:float, font:str,
                        text:str) named tuples
      n_pages     int
      n_objects   int   number of indirect objects parsed
      bytes       int   input size
      parse_error str|None
      images      list  of dicts (only when with_images=True)

    ``pages`` (1-based) restricts extraction like the reference's
    page-subset scan (src/lib.rs:60-72, src/main.rs:30-34): untouched
    pages are never parsed past the tree walk.
    """
    result = {
        "text": "",
        "spans": [],
        "n_pages": 0,
        "n_objects": 0,
        "bytes": len(pdf_bytes),
        "parse_error": None,
    }
    if with_images:
        result["images"] = []
    try:
        doc = PdfDocument(pdf_bytes)
        page_infos = doc.pages()
        result["n_pages"] = len(page_infos)
        if pages is not None:
            wanted = set(pages)
            page_infos = [p for p in page_infos if p.page_number in wanted]
        all_spans = []
        for page in page_infos:
            fonts = {}
            if page.resources is not None:
                fdict = doc.resolve(page.resources.get("Font"))
                if isinstance(fdict, PdfDict):
                    for fname, fobj in fdict.entries:
                        fonts[fname] = build_font(doc, fname, fobj)
            content = doc.page_content_bytes(page)
            interp = ContentInterpreter(fonts, page.page_number)
            all_spans.extend(interp.run(content))
            if with_images:
                page_imgs = extract_page_images(doc, page)
                # [EXTENSION] inline BI..ID..EI images recorded by the
                # interpreter's scan, same D1-D6 assembly, appended
                # after the XObject images
                page_imgs.extend(extract_inline_images(
                    page.page_number, interp.inline_images))
                for img in page_imgs:
                    result["images"].append({
                        "page": img.page, "name": img.name,
                        "width": img.width, "height": img.height,
                        "colorspace": img.colorspace, "format": img.format,
                        "data": img.data,
                    })
        result["spans"] = all_spans
        result["text"] = spans_to_text(all_spans)
        result["n_objects"] = doc.n_objects_parsed
    except PdfEncryptedError:
        # structured token, not a formatted message: downstream
        # filters/lineage can count encrypted docs as their own class
        result["parse_error"] = "encrypted"
    except (PdfStructureError, ParserError, LexerError, ImageError,
            AssertionError, ValueError, KeyError, IndexError,
            TypeError, AttributeError, RecursionError, OverflowError) as e:
        result["parse_error"] = f"{type(e).__name__}: {e}"
    return result
