"""Kernel phases timed in-process on one core.

``traced_extract`` calls the kernel's public functions in the order
``kernel.extract.extract_text`` does and times each step. Its text must
equal ``extract_text``'s for every sampled document, or the ledger is
rejected: a drifted copy of the call sequence would time the wrong
work.
"""

from __future__ import annotations

import statistics
import time

from pdf_parser_spark.kernel.cos import LexerError, ParserError, PdfDict
from pdf_parser_spark.kernel.doc import PdfDocument
from pdf_parser_spark.kernel.extract import extract_text
from pdf_parser_spark.kernel.fileparse import (
    PdfEncryptedError, PdfStructureError,
)
from pdf_parser_spark.kernel.images import ImageError
from pdf_parser_spark.kernel.textops import (
    ContentInterpreter, build_font, spans_to_text,
)

PHASES = ("open", "page_tree", "fonts", "stream_raw", "stream_decode",
          "interpret", "reading_order")
# the exception classes extract_text turns into a parse_error row
_PARSE_ERRORS = (PdfStructureError, ParserError, LexerError, ImageError,
                 AssertionError, ValueError, KeyError, IndexError,
                 TypeError, AttributeError, RecursionError)


def traced_extract(data: bytes, ph: dict, n: dict) -> tuple[str, str | None]:
    """One document through the kernel, adding phase seconds to ``ph``
    and counts to ``n``; returns (text, parse_error)."""
    pc = time.perf_counter
    try:
        t = pc()
        doc = PdfDocument(data)
        t1 = pc()
        pages = doc.pages()
        t2 = pc()
        ph["open"] += t1 - t
        ph["page_tree"] += t2 - t1
        n["pages"] += len(pages)
        spans = []
        for page in pages:
            t = pc()
            fonts = {}
            if page.resources is not None:
                fdict = doc.resolve(page.resources.get("Font"))
                if isinstance(fdict, PdfDict):
                    for fname, fobj in fdict.entries:
                        fonts[fname] = build_font(doc, fname, fobj)
            t1 = pc()
            content = doc.page_content_bytes(page)
            t2 = pc()
            # stream_raw again, cache-warm, to split the content read into
            # decryption/slicing and filter decoding
            for s in page.contents:
                doc.stream_raw(s)
            t3 = pc()
            page_spans = ContentInterpreter(fonts, page.page_number).run(
                content)
            t4 = pc()
            spans.extend(page_spans)
            ph["fonts"] += t1 - t
            ph["stream_raw"] += t3 - t2
            ph["stream_decode"] += (t2 - t1) - (t3 - t2)
            ph["interpret"] += t4 - t3
            n["decoded_bytes"] += len(content)
        t = pc()
        text = spans_to_text(spans)
        ph["reading_order"] += pc() - t
        n["spans"] += len(spans)
        n["objects_parsed"] += doc.n_objects_parsed
        return text, None
    except PdfEncryptedError:
        return "", "encrypted"
    except _PARSE_ERRORS as e:
        return "", f"{type(e).__name__}: {e}"


def kernel_ledger(docs: list[bytes], rounds: int = 2) -> tuple[dict, int]:
    """Per-phase seconds, whole-call figures and counts over ``docs``.

    Each document runs ``extract_text`` and the traced sequence
    alternately, ``rounds`` times; the fastest round of each is kept.
    Returns (metrics, number of documents whose traced text differs).
    """
    best_call = [float("inf")] * len(docs)
    best_ph = [None] * len(docs)
    counts = None
    mismatches = 0
    for r in range(rounds):
        n = dict.fromkeys(("pages", "objects_parsed", "spans",
                           "decoded_bytes", "parse_errors"), 0)
        for i, data in enumerate(docs):
            t = time.perf_counter()
            ref = extract_text(data)
            best_call[i] = min(best_call[i], time.perf_counter() - t)
            ph = dict.fromkeys(PHASES, 0.0)
            text, err = traced_extract(data, ph, n)
            if r == 0 and (text, err) != (ref["text"], ref["parse_error"]):
                mismatches += 1
            n["parse_errors"] += err is not None
            if best_ph[i] is None or sum(ph.values()) < sum(
                    best_ph[i].values()):
                best_ph[i] = ph
        counts = n
    call_s = sum(best_call)
    phase_s = {p: sum(ph[p] for ph in best_ph) for p in PHASES}
    doc_ms = [t * 1e3 for t in best_call]
    q = statistics.quantiles(doc_ms, n=100) if len(doc_ms) > 1 else doc_ms * 99
    out = {f"kernel.{p}_s": v for p, v in phase_s.items()}
    out.update({
        "kernel.extract_text_s": call_s,
        "kernel.untraced_share": 1.0 - sum(phase_s.values()) / call_s,
        "kernel.doc_ms_p50": statistics.median(doc_ms),
        "kernel.doc_ms_p99": q[98],
        "kernel.mb_per_s_1core": sum(map(len, docs)) / 1e6 / call_s,
        "kernel.docs": len(docs),
    })
    out.update({f"kernel.{k}": v for k, v in counts.items()})
    return out, mismatches
