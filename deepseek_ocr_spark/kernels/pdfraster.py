"""PDF page rasterization + the OCR route (reference run_dpsk_ocr_pdf.py:64-95).

The reference's PRIMARY input path renders every PDF page to a pixmap at
dpi=144 (``fitz.Matrix(dpi/72, dpi/72)``) and feeds it to the vision model.
This module is the routing counterpart to the text-layer triage in
sources/pdf.py: pages WITHOUT an embedded text layer no longer dead-end —
they are rasterized and "OCR'd" into the same document model.

Sandbox contract (the SURVEY §2.8 substitution rule, same as the neural
stack O-39…O-45):

- ``rasterize_page`` synthesizes a DETERMINISTIC pixmap with the REAL
  geometry — MediaBox points × dpi/72, the reference's sizing — so every
  observable that flows downstream (page dims, tile plan, vision-token
  budget, global-view geometry) is real. A production deployment injects a
  real rasterizer via ``set_rasterizer`` (fitz/pdfium behind the same
  (pdf_bytes, page_no, dpi) → Image signature); nothing else changes.
- ``ocr_page_text`` stands in for the vision+LLM decode: deterministic
  text derived from the pixmap digest and geometry, clearly marked. It is
  NOT a text recovery — it is the sandbox observable that proves the
  routing, rasterization, and accounting plumbing end-to-end.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections.abc import Callable

import numpy as np

from deepseek_ocr_spark.kernels.pdftext import _document_objects, _ordered_page_nums
from deepseek_ocr_spark.kernels.pixels import Image

DPI = 144  # reference: run_dpsk_ocr_pdf.py renders at fitz.Matrix(144/72, 144/72)
DEFAULT_MEDIABOX = (612.0, 792.0)  # US Letter in points — PDF's customary default

_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s*\]"
)

# injectable real rasterizer: (pdf_bytes, page_no, dpi) -> Image
_rasterizer: Callable[[bytes, int, int], Image] | None = None


def set_rasterizer(fn: Callable[[bytes, int, int], Image] | None) -> None:
    """Install a real rasterizer (fitz/pdfium adapter) or None to restore
    the deterministic sandbox synthesizer."""
    global _rasterizer
    _rasterizer = fn


def _box_of(body: bytes) -> tuple[float, float] | None:
    m = _MEDIABOX_RE.search(body)
    if not m:
        return None
    try:
        x1, y1, x2, y2 = (float(m.group(i)) for i in range(1, 5))
    except ValueError:
        return None
    w, h = abs(x2 - x1), abs(y2 - y1)
    return (w, h) if w > 0 and h > 0 else None


def page_sizes(data: bytes) -> list[tuple[float, float]]:
    """Per-page (width_pt, height_pt) in display order; a page without its
    own /MediaBox inherits the first /Pages-level box (PDF inheritance,
    flattened), else the Letter default. Objects resolve exactly as in
    extract_pdf_text (object streams, encryption), so both see the same
    pages. Degrades to [] on hostile input — same quarantine rule as
    kernels/pdftext."""
    try:
        objs, _dec = _document_objects(data)
        inherited = None
        for body in objs.values():
            if b"/Type" in body and b"/Pages" in body and b"/Kids" in body:
                inherited = _box_of(body)
                if inherited:
                    break
        out = []
        for num in _ordered_page_nums(objs):
            out.append(_box_of(objs[num]) or inherited or DEFAULT_MEDIABOX)
        return out
    except Exception:
        return []


def raster_dims(w_pt: float, h_pt: float, dpi: int = DPI) -> tuple[int, int]:
    """Pixmap dimensions at ``dpi`` — points × dpi/72, rounded half-up
    (pixmap sizing; at least 1px)."""
    return (max(1, int(w_pt * dpi / 72 + 0.5)), max(1, int(h_pt * dpi / 72 + 0.5)))


def rasterize_page(
    data: bytes,
    page_no: int,
    dpi: int = DPI,
    sizes: list[tuple[float, float]] | None = None,
) -> Image:
    """Pixmap of one page. With an injected rasterizer: the real render.
    Sandbox default: a deterministic synthetic pixmap at the REAL
    MediaBox×dpi geometry, pixel pattern seeded by a CRC of the document
    bytes + page number (same input → same bytes on every executor).
    ``sizes`` lets a caller looping over pages pass page_sizes(data) once
    instead of re-parsing the whole document per page."""
    if _rasterizer is not None:
        return _rasterizer(data, page_no, dpi)
    if sizes is None:
        sizes = page_sizes(data)
    if not 0 <= page_no < len(sizes):
        raise ValueError(f"page {page_no} out of range ({len(sizes)} pages)")
    w, h = raster_dims(*sizes[page_no], dpi)
    # mask to 32 bits: numpy 2 (NEP 50) raises OverflowError when adding an
    # out-of-uint32-range Python int to a uint32 array (page_no >= 2 pushes
    # the XOR past 32 bits); low-byte arithmetic below is unaffected
    seed = (zlib.crc32(data) ^ (page_no * 0x9E3779B1)) & 0xFFFFFFFF
    ys = np.arange(h, dtype=np.uint32)[:, None]
    xs = np.arange(w, dtype=np.uint32)[None, :]
    planes = [
        ((xs * 7 + ys * 13 + seed) & 0xFF).astype(np.uint8),
        ((xs * 3 + ys * 5 + (seed >> 8)) & 0xFF).astype(np.uint8),
        ((xs + ys + (seed >> 16)) & 0xFF).astype(np.uint8),
    ]
    return (w, h, 3, np.stack(planes, axis=-1).tobytes())


def ocr_page_text(img: Image, page_no: int) -> str:
    """SANDBOX OCR SUBSTITUTION (documented, deterministic): the stand-in
    for the reference's vision-encoder + LLM decode on a rasterized page.
    Emits geometry + a pixel digest — non-empty, reproducible, and
    honest about being a placeholder (no text recovery happens here)."""
    w, h, _ch, buf = img
    digest = hashlib.sha256(bytes(buf)).hexdigest()[:16]
    return f"[ocr:p{page_no} {w}x{h}@{DPI}dpi {digest}]"
