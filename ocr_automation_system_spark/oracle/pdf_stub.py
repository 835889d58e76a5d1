"""PDF / layout-parse fallback leg (operators S1-S3 in SURVEY.md §2.1).

The reference parses PDFs with PyMuPDF and falls back to PaddleOCR when the
text leg is unusable (`/root/reference/project/core/pdf_text.py:4-16`,
`core/ocr_engine.py:26-70`). Neither library ships in this container, so —
per the build instructions — the *decode* step is stubbed while the Spark
plumbing (schema, one-pass execution, batch shape) is real:

* Real PDFs: if ``fitz`` (PyMuPDF) is importable we use it; otherwise a
  clearly-marked ``NotImplementedError`` is raised and caught by the caller,
  which records the row as a poison row (exception isolation, SURVEY.md §4).
* Synthetic PDFs: the corpus generator embeds a deterministic fake format so
  the fallback leg is exercised end-to-end in tests:

      b"%PDF-1.7\\n%SYNTHETIC\\n" + page texts joined by b"\\n\\x0cPAGE\\n"

Page records mirror the reference shape ``{page:int, source:str, text:str}``
(`core/pdf_text.py:11-14`, `core/ocr_engine.py:64-68`).
"""

from __future__ import annotations

PDF_MAGIC = b"%PDF"
SYNTH_HEADER = b"%PDF-1.7\n%SYNTHETIC\n"
SYNTH_PAGE_SEP = b"\n\x0cPAGE\n"

try:  # pragma: no cover - not installed in this container
    import fitz  # type: ignore

    _HAS_FITZ = True
except Exception:  # pragma: no cover
    fitz = None
    _HAS_FITZ = False


def is_pdf_payload(payload: bytes | None) -> bool:
    """Leg selector: does this binary payload carry a PDF document?"""
    if payload is None:
        return False
    return bytes(payload[:4]) == PDF_MAGIC


def make_synthetic_pdf(pages: list[str]) -> bytes:
    """Encode page texts in the deterministic synthetic PDF format."""
    return SYNTH_HEADER + SYNTH_PAGE_SEP.join(p.encode("utf-8") for p in pages)


def extract_pdf_pages(payload: bytes) -> list[dict]:
    """PDF bytes -> [{page, source, text}], reference S1 semantics
    (`core/pdf_text.py:4-16`: one record per page, text stripped).
    """
    payload = bytes(payload)
    if payload.startswith(SYNTH_HEADER):
        body = payload[len(SYNTH_HEADER):]
        texts = body.split(SYNTH_PAGE_SEP)
        return [
            {"page": i + 1, "source": "pdf", "text": t.decode("utf-8", errors="replace").strip()}
            for i, t in enumerate(texts)
        ]
    if _HAS_FITZ:  # pragma: no cover - real decode path, gated import
        doc = fitz.open(stream=payload, filetype="pdf")
        return [
            {"page": i + 1, "source": "pdf", "text": page.get_text("text").strip()}
            for i, page in enumerate(doc)
        ]
    raise NotImplementedError(
        "Real PDF decode requires PyMuPDF (fitz), which is not installed in "
        "this container; only the synthetic corpus format is decodable. "
        "The caller records this row as poison (exception isolation)."
    )


def extract_pdf_text(payload: bytes) -> str:
    """Space-join of page texts — matches the reference's page join
    (`project/main.py:8`: ``" ".join(page["text"] for page in pages)``).
    """
    pages = extract_pdf_pages(payload)
    return " ".join(p["text"] for p in pages)
