"""Raster tier for the O-8 geometry sink: render the SVG scene graph
pipeline/geometry.py emits to a deterministic grayscale PNG through the
in-house pixel kernels — the raster analog of the reference's matplotlib
re-plot to ``geo.jpg`` (run_dpsk_ocr_image.py:251-301).

The input grammar is OUR OWN SVG subset (geometry.LINE_FMT / LABEL_FMT /
CIRCLE_FMT on a fixed viewBox "-15 -15 30 30" with the geometry group
under scale(1,-1)) — this is a renderer for that closed grammar, not a
general SVG engine. Rendering is pure numpy distance-field rasterization
(no anti-aliasing, binary ink): identical bytes on every executor and on
task retry, the same determinism contract as the PDF/SVG sinks.

Pixel mapping (size px over the 30-unit world, y up):
    px = (x_world + 15) * size/30        py = (15 - y_world) * size/30
Elements inside the flipped <g> carry y_world verbatim; <text> labels sit
outside it with a string-negated y (see geometry._neg), so y_world of a
label = -y_attr.

Text uses a built-in 5x7 bitmap font (A-Z, 0-9, and ':(),-. ' — the
reference grammar's labels are single letters); characters without a
glyph are skipped, never raised.
"""

from __future__ import annotations

import re

import numpy as np

from deepseek_ocr_spark.kernels.pixels import encode_png

WORLD = 30.0  # viewBox spans -15..15 in both axes
STROKE = 0.1  # world-unit stroke width (geometry.LINE_FMT / CIRCLE_FMT)
FONT_SIZE = 0.8  # world-unit label height

_LINE_RE = re.compile(
    r'<line x1="([^"]+)" y1="([^"]+)" x2="([^"]+)" y2="([^"]+)"'
)
_CIRCLE_RE = re.compile(r'<circle cx="([^"]+)" cy="([^"]+)" r="([^"]+)"([^/]*)/>')
_TEXT_RE = re.compile(r'<text x="([^"]+)" y="([^"]+)" font-size="[^"]+">([^<]*)</text>')

# 5x7 bitmap font, row-major bit strings (1 = ink). Covers the label
# grammar: single letters, digits, and the point-text punctuation.
_FONT: dict[str, tuple[str, ...]] = {
    "A": ("01110", "10001", "10001", "11111", "10001", "10001", "10001"),
    "B": ("11110", "10001", "10001", "11110", "10001", "10001", "11110"),
    "C": ("01110", "10001", "10000", "10000", "10000", "10001", "01110"),
    "D": ("11110", "10001", "10001", "10001", "10001", "10001", "11110"),
    "E": ("11111", "10000", "10000", "11110", "10000", "10000", "11111"),
    "F": ("11111", "10000", "10000", "11110", "10000", "10000", "10000"),
    "G": ("01110", "10001", "10000", "10111", "10001", "10001", "01110"),
    "H": ("10001", "10001", "10001", "11111", "10001", "10001", "10001"),
    "I": ("01110", "00100", "00100", "00100", "00100", "00100", "01110"),
    "J": ("00111", "00010", "00010", "00010", "00010", "10010", "01100"),
    "K": ("10001", "10010", "10100", "11000", "10100", "10010", "10001"),
    "L": ("10000", "10000", "10000", "10000", "10000", "10000", "11111"),
    "M": ("10001", "11011", "10101", "10101", "10001", "10001", "10001"),
    "N": ("10001", "11001", "10101", "10011", "10001", "10001", "10001"),
    "O": ("01110", "10001", "10001", "10001", "10001", "10001", "01110"),
    "P": ("11110", "10001", "10001", "11110", "10000", "10000", "10000"),
    "Q": ("01110", "10001", "10001", "10001", "10101", "10010", "01101"),
    "R": ("11110", "10001", "10001", "11110", "10100", "10010", "10001"),
    "S": ("01111", "10000", "10000", "01110", "00001", "00001", "11110"),
    "T": ("11111", "00100", "00100", "00100", "00100", "00100", "00100"),
    "U": ("10001", "10001", "10001", "10001", "10001", "10001", "01110"),
    "V": ("10001", "10001", "10001", "10001", "10001", "01010", "00100"),
    "W": ("10001", "10001", "10001", "10101", "10101", "11011", "10001"),
    "X": ("10001", "10001", "01010", "00100", "01010", "10001", "10001"),
    "Y": ("10001", "10001", "01010", "00100", "00100", "00100", "00100"),
    "Z": ("11111", "00001", "00010", "00100", "01000", "10000", "11111"),
    "0": ("01110", "10001", "10011", "10101", "11001", "10001", "01110"),
    "1": ("00100", "01100", "00100", "00100", "00100", "00100", "01110"),
    "2": ("01110", "10001", "00001", "00010", "00100", "01000", "11111"),
    "3": ("11111", "00010", "00100", "00010", "00001", "10001", "01110"),
    "4": ("00010", "00110", "01010", "10010", "11111", "00010", "00010"),
    "5": ("11111", "10000", "11110", "00001", "00001", "10001", "01110"),
    "6": ("00110", "01000", "10000", "11110", "10001", "10001", "01110"),
    "7": ("11111", "00001", "00010", "00100", "01000", "01000", "01000"),
    "8": ("01110", "10001", "10001", "01110", "10001", "10001", "01110"),
    "9": ("01110", "10001", "10001", "01111", "00001", "00010", "01100"),
    ":": ("00000", "00100", "00000", "00000", "00100", "00000", "00000"),
    "(": ("00010", "00100", "01000", "01000", "01000", "00100", "00010"),
    ")": ("01000", "00100", "00010", "00010", "00010", "00100", "01000"),
    ",": ("00000", "00000", "00000", "00000", "00100", "00100", "01000"),
    "-": ("00000", "00000", "00000", "01110", "00000", "00000", "00000"),
    ".": ("00000", "00000", "00000", "00000", "00000", "00100", "00100"),
    " ": ("00000", "00000", "00000", "00000", "00000", "00000", "00000"),
}


def _px(v: float, size: int) -> float:
    return (v + WORLD / 2) * size / WORLD


def _py(y_world: float, size: int) -> float:
    return (WORLD / 2 - y_world) * size / WORLD


def _stamp_segment(ink, x0, y0, x1, y1, half_w):
    """Blacken pixels within half_w of the segment (distance field over the
    segment's bounding box — exact, order-independent)."""
    size = ink.shape[0]
    lo_x = max(0, int(np.floor(min(x0, x1) - half_w - 1)))
    hi_x = min(size, int(np.ceil(max(x0, x1) + half_w + 2)))
    lo_y = max(0, int(np.floor(min(y0, y1) - half_w - 1)))
    hi_y = min(size, int(np.ceil(max(y0, y1) + half_w + 2)))
    if lo_x >= hi_x or lo_y >= hi_y:
        return
    ys, xs = np.mgrid[lo_y:hi_y, lo_x:hi_x]
    xs = xs + 0.5
    ys = ys + 0.5
    dx, dy = x1 - x0, y1 - y0
    ll = dx * dx + dy * dy
    if ll == 0:
        dist = np.hypot(xs - x0, ys - y0)
    else:
        t = np.clip(((xs - x0) * dx + (ys - y0) * dy) / ll, 0.0, 1.0)
        dist = np.hypot(xs - (x0 + t * dx), ys - (y0 + t * dy))
    ink[lo_y:hi_y, lo_x:hi_x] |= dist <= half_w


def _stamp_disc(ink, cx, cy, r):
    size = ink.shape[0]
    lo_x = max(0, int(np.floor(cx - r - 1)))
    hi_x = min(size, int(np.ceil(cx + r + 2)))
    lo_y = max(0, int(np.floor(cy - r - 1)))
    hi_y = min(size, int(np.ceil(cy + r + 2)))
    if lo_x >= hi_x or lo_y >= hi_y:
        return
    ys, xs = np.mgrid[lo_y:hi_y, lo_x:hi_x]
    dist = np.hypot(xs + 0.5 - cx, ys + 0.5 - cy)
    ink[lo_y:hi_y, lo_x:hi_x] |= dist <= r


def _stamp_ring(ink, cx, cy, r, half_w):
    size = ink.shape[0]
    lo_x = max(0, int(np.floor(cx - r - half_w - 1)))
    hi_x = min(size, int(np.ceil(cx + r + half_w + 2)))
    lo_y = max(0, int(np.floor(cy - r - half_w - 1)))
    hi_y = min(size, int(np.ceil(cy + r + half_w + 2)))
    if lo_x >= hi_x or lo_y >= hi_y:
        return
    ys, xs = np.mgrid[lo_y:hi_y, lo_x:hi_x]
    dist = np.hypot(xs + 0.5 - cx, ys + 0.5 - cy)
    ink[lo_y:hi_y, lo_x:hi_x] |= np.abs(dist - r) <= half_w


def _stamp_text(ink, x, y, text, cell_h):
    """Top-left anchored bitmap text; cell_h px per glyph (7 rows)."""
    size = ink.shape[0]
    scale = max(1, int(round(cell_h / 7)))
    gw, gh = 5 * scale, 7 * scale
    cx = int(round(x))
    cy = int(round(y))
    for ch in text:
        glyph = _FONT.get(ch.upper())
        if glyph is not None:
            for r, row in enumerate(glyph):
                for c, bit in enumerate(row):
                    if bit != "1":
                        continue
                    y0, x0 = cy + r * scale, cx + c * scale
                    y1, x1 = min(size, y0 + scale), min(size, x0 + scale)
                    if y0 < size and x0 < size and y0 >= 0 and x0 >= 0:
                        ink[max(0, y0):y1, max(0, x0):x1] = True
        cx += gw + scale  # 1-cell tracking
    _ = gh


def rasterize_geometry_svg(svg: str, size: int = 600) -> bytes:
    """Our geometry-SVG subset → grayscale PNG bytes (white canvas, black
    ink). Raises ValueError on a payload that is not the closed grammar
    (no viewBox marker) — callers gate on geometry rows upstream."""
    if 'viewBox="-15 -15 30 30"' not in svg:
        raise ValueError("not a geometry scene SVG")
    ink = np.zeros((size, size), dtype=bool)
    s = size / WORLD  # px per world unit
    half_w = STROKE / 2 * s
    for m in _LINE_RE.finditer(svg):
        x0, y0, x1, y1 = (float(v) for v in m.groups())
        _stamp_segment(
            ink, _px(x0, size), _py(y0, size), _px(x1, size), _py(y1, size),
            half_w,
        )
    for m in _CIRCLE_RE.finditer(svg):
        cx, cy, r = float(m.group(1)), float(m.group(2)), float(m.group(3))
        tail = m.group(4)
        if 'fill="none"' in tail:  # CIRCLE_FMT — unfilled stroke
            _stamp_ring(ink, _px(cx, size), _py(cy, size), r * s, half_w)
        else:  # LINE_FMT endpoint dot — filled
            _stamp_disc(ink, _px(cx, size), _py(cy, size), r * s)
    for m in _TEXT_RE.finditer(svg):
        x, y_attr, text = float(m.group(1)), float(m.group(2)), m.group(3)
        # labels sit outside the flipped group: y_world = -y_attr
        _stamp_text(
            ink, _px(x, size), _py(-y_attr, size), text, FONT_SIZE * s
        )
    buf = np.where(ink, 0, 255).astype(np.uint8)
    return encode_png((size, size, 1, buf.tobytes()))
