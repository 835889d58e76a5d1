"""OCR fallback leg (operators S2/S3/F3 in SURVEY.md §2.1-2.2).

The reference renders pages at dpi=300 (`/root/reference/project/core/
pdf_images.py:4-14`), caps the longest side at 2500 px, runs PaddleOCR and
keeps lines with score > 0.25 (`core/ocr_engine.py:13-23,26-70`). PaddleOCR
isn't in this container, so — per the build instructions — the *inference*
call is a deterministic fake behind the same knobs, while every piece of
surrounding plumbing is real and tested:

* the render-geometry math (dpi scaling, max-side cap),
* the per-line confidence filter (F3: ``score > 0.25 and line.strip()``),
* the model-singleton pattern (module-level lazy init, one per Python
  worker — `core/ocr_engine.py:6-11`; amortized by
  ``spark.python.worker.reuse``),
* newline-joined page records ``{page, source:'ocr', text}``
  (`core/ocr_engine.py:64-68`).

Swapping in real PaddleOCR changes only ``_StubModel.infer``.
"""

from __future__ import annotations

import hashlib
import time

try:  # pragma: no cover - not installed in this container
    from paddleocr import PaddleOCR as _PaddleOCR

    _HAS_PADDLE = True
except Exception:  # pragma: no cover
    _PaddleOCR = None
    _HAS_PADDLE = False

DPI = 300
MAX_SIDE_PX = 2500
SCORE_CUTOFF = 0.25

#: A4 at 72pt — the page-geometry the render math scales from.
_PAGE_PT = (595.0, 842.0)


def render_geometry(page_pt: tuple[float, float] = _PAGE_PT,
                    dpi: int = DPI, max_side: int = MAX_SIDE_PX) -> tuple[int, int, float]:
    """S2: (width_px, height_px, effective_scale) after dpi render + cap.

    Mirrors ``pdf_to_images`` (dpi/72 zoom) composed with ``_resize_keep``
    (`core/ocr_engine.py:13-23`): the longest side is clamped to
    ``max_side`` — the reference's per-record cost/memory bound."""
    zoom = dpi / 72.0
    w, h = page_pt[0] * zoom, page_pt[1] * zoom
    longest = max(w, h)
    scale = 1.0 if longest <= max_side else max_side / longest
    return int(w * scale), int(h * scale), zoom * scale


class _StubModel:
    """Deterministic fake OCR model. Singleton per process, lazily built —
    the reference's model-load pattern (`core/ocr_engine.py:6-11`)."""

    def infer(self, page_text: str) -> list[tuple[str, float]]:
        """STUB for PaddleOCR inference: "recognizes" the page's embedded
        text line-by-line with a deterministic per-line confidence in
        [0.05, 1.0) derived from the line content — so the F3 cutoff
        genuinely drops a stable subset of lines."""
        out = []
        for line in page_text.split("\n"):
            h = hashlib.md5(line.encode("utf-8")).digest()
            score = 0.05 + (h[0] / 256.0) * 0.95
            out.append((line, score))
        return out


class _PaddleModel:  # pragma: no cover - requires paddleocr at runtime
    """Real-inference wrapper, built only when paddleocr imports. Mirrors
    the reference's constructor flags (`core/ocr_engine.py:6-11`). The
    caller renders page images (``render_geometry`` gives the pixel
    bounds) and passes ndarrays; per-line output is (text, score) exactly
    like the stub so the F3 cutoff code is shared."""

    def __init__(self) -> None:
        self._ocr = _PaddleOCR(use_angle_cls=True, lang="en",
                               show_log=False)

    def infer(self, page_image) -> list[tuple[str, float]]:
        result = self._ocr.ocr(page_image, cls=True)
        return [(line[1][0], float(line[1][1]))
                for block in (result or []) for line in (block or [])]


_MODEL = None
#: text-page recognizer used when the installed real model can't consume
#: a synthetic (str) page — keeps both modes byte-identical on tests.
_STUB_FALLBACK = _StubModel()
#: wall-clock seconds the per-worker model singleton took to build —
#: MEASURED at first get_model() in each Python worker (0 until then).
#: The reference asserts this cost is amortized by its module-level
#: singleton (`core/ocr_engine.py:6-11`); here it is recorded so a real
#: deployment can read the number per worker instead of trusting the
#: claim. Stub init is ~0; real PaddleOCR init is seconds — which is why
#: the build is lazy (a worker builds it at its first scanned PDF, never
#: for a clean batch) and spark.python.worker.reuse keeps it alive across
#: tasks, so the single extraction pass pays it once per worker.
MODEL_INIT_SECONDS: float = 0.0


def get_model():
    global _MODEL, MODEL_INIT_SECONDS
    if _MODEL is None:
        t0 = time.perf_counter()
        _MODEL = _PaddleModel() if _HAS_PADDLE else _StubModel()
        MODEL_INIT_SECONDS = time.perf_counter() - t0
    return _MODEL


def ocr_page(page_text, score_cutoff: float = SCORE_CUTOFF) -> str:
    """S3+F3: run inference over a rendered page, keep lines with
    ``score > cutoff`` and non-blank text, newline-join
    (`core/ocr_engine.py:46-63`). Accepts a page-image ndarray (real
    leg, dispatched to PaddleOCR when installed) or a synthetic text
    page (always the deterministic stub recognizer, even when the real
    model is importable — pixels, not text, feed a real model)."""
    model = get_model()
    render_geometry()  # the render-cost bound runs even in the stub path
    if isinstance(page_text, str) and not isinstance(model, _StubModel):
        model = _STUB_FALLBACK  # pragma: no cover - paddle installed
    kept = [
        txt for txt, score in model.infer(page_text)
        if score > score_cutoff and txt.strip()
    ]
    return "\n".join(kept)


def ocr_pages(pages: list[dict], score_cutoff: float = SCORE_CUTOFF) -> list[dict]:
    """Full OCR leg over page records: every page re-recognized
    (`core/ocr_engine.py:26-70` returns one record per page)."""
    return [
        {"page": p.get("page", i + 1), "source": "ocr",
         "text": ocr_page(p.get("text", ""), score_cutoff)}
        for i, p in enumerate(pages)
    ]
