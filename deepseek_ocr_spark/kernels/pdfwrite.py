"""The PDF byte layer: the one module that knows how a PDF file is laid
out — object framing (``obj``), stream objects (``stream_obj``), the
classic xref table and trailer (``objects``, ``serialize``, ``startxref``),
the literal-string ``escape`` and the line-per-``Tj`` ``text_object``.
The annotated-layout sink below and the fixture writers in
kernels/pdftext.py build object dicts and call these.

The sink is the TRUE-PDF analog of the reference's annotated-layout
artifact. The reference draws span boxes + labels onto each page image and
binds the pages into ``*_layouts.pdf`` with img2pdf (run_dpsk_ocr_pdf.py:
97-119, 151-215).  img2pdf's core trick is embedding the image stream
VERBATIM (JPEG bytes become a /DCTDecode XObject, no recompress);
``build_pdf`` does the same, and keeps the annotation layer VECTOR: boxes
are PDF `re S` strokes with a translucent `re f` fill (ExtGState ca=0.08)
and labels are native Helvetica `Tj` text at the reference's (x1, y1-15)
anchor — so the page image stays pristine instead of having boxes burned
into pixels, and no font rasterization is needed.

Pure stdlib (zlib), byte-deterministic (fixed object ordering, no
timestamps/ids) — a distributed sink must produce identical bytes on task
retry.  PDF 1.4 structure: catalog → pages → per page (Page dict, content
stream, image XObject), ExtGState + Helvetica shared, xref with exact byte
offsets.

Coordinate note: 1 image pixel = 1 PDF point (MediaBox [0 0 w h]); the
reference's img2pdf default maps 96 px/inch instead — presentation-only
scale, documented divergence.  Image-space y (down) converts to PDF y (up)
as ``y_pdf = height - y_img``.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

# --- PDF file layout ------------------------------------------------------------


def obj(num: int, body: bytes) -> bytes:
    """One indirect object, generation 0."""
    return b"%d 0 obj\n" % num + body + b"\nendobj\n"


def stream_obj(data: bytes, before: bytes = b"", after: bytes = b"") -> bytes:
    """A stream object body: ``<< {before}/Length n{after} >>`` then the
    data. ``before`` ends with its separating space."""
    return (
        b"<< " + before + b"/Length %d" % len(data) + after
        + b" >>\nstream\n" + data + b"\nendstream"
    )


def objects(header: bytes, objs: dict[int, bytes]) -> tuple[bytearray, dict[int, int]]:
    """``header`` then every object in number order → (file bytes so far,
    {object number: byte offset})."""
    out = bytearray(header)
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += obj(num, objs[num])
    return out, offsets


def startxref(xref_at: int) -> bytes:
    return b"startxref\n%d\n%%%%EOF\n" % xref_at


def serialize(
    objs: dict[int, bytes], header: bytes = b"%PDF-1.4\n", trailer: str = ""
) -> bytes:
    """A classic-xref PDF: objects 1..N (object 1 is the catalog), the xref
    table with exact byte offsets, and the trailer. ``trailer`` holds
    extra trailer entries, each followed by a space."""
    out, offsets = objects(header, objs)
    xref_at = len(out)
    nobj = max(objs) + 1
    out += b"xref\n0 %d\n" % nobj
    out += b"0000000000 65535 f \n"
    for num in range(1, nobj):
        out += b"%010d 00000 n \n" % offsets[num]
    out += f"trailer\n<< /Size {nobj} /Root 1 0 R {trailer}>>\n".encode()
    out += startxref(xref_at)
    return bytes(out)


def escape(s: str) -> str:
    """PDF literal-string escape.  Non-latin-1 characters are replaced
    with '?' — content streams are encoded latin-1 (WinAnsi-adjacent,
    what /F1 Helvetica can address) and a CJK span label must degrade the
    LABEL, never UnicodeEncodeError out of the per-doc assemble UDF and
    kill the task."""
    s = s.encode("latin-1", errors="replace").decode("latin-1")
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def text_object(shows: list[str]) -> bytes:
    """One 12pt /F1 text object from (72, 720): one ``Tj`` per operand in
    ``shows`` (a ``(…)`` literal or a ``<…>`` hex string), each after the
    first moved down by ``0 -14 Td`` — the newline rule the text parser
    round-trips."""
    ops = ["BT /F1 12 Tf 72 720 Td"]
    for k, show in enumerate(shows):
        if k:
            ops.append("0 -14 Td")
        ops.append(f"{show} Tj")
    ops.append("ET")
    return " ".join(ops).encode("latin-1")


# --- annotated-layout sink ------------------------------------------------------


@dataclass
class PdfPage:
    width: int
    height: int
    # "jpeg" (DCTDecode passthrough) | "flate-rgb" | "flate-gray" |
    # "png-rgb" / "png-gray" (the PNG analog of the JPEG trick: the IDAT
    # zlib stream embeds VERBATIM as /FlateDecode + /DecodeParms
    # /Predictor 15 — PDF's PNG-prediction mode accepts the filtered
    # scanlines as-is, so no inflate/unfilter/re-deflate ever runs)
    codec: str
    # JPEG file bytes, raw RGB/gray samples row-major, or the PNG IDAT
    # zlib stream for the png-* codecs
    image: bytes
    # (x1, y1, x2, y2, (r, g, b), stroke_width, label) in image pixel coords
    boxes: list[tuple] = field(default_factory=list)
    # True → ``image`` is ALREADY zlib-compressed for the flate codecs
    # (lets a distributed caller compress map-side so the per-doc shuffle
    # group never holds raw samples); size checks are the caller's duty
    precompressed: bool = False


def _content_stream(page: PdfPage) -> bytes:
    w, h = page.width, page.height
    ops = [f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q"]
    for (x1, y1, x2, y2, rgb, sw, label) in page.boxes:
        r, g, b = (c / 255 for c in rgb)
        bw, bh = x2 - x1, y2 - y1
        # PDF y-up: rect anchor is the box's bottom-left corner
        ry = h - y2
        col = f"{r:.3f} {g:.3f} {b:.3f}"
        # translucent fill (reference: fill=color+alpha) under a solid stroke
        ops.append(f"q /GSa gs {col} rg {x1} {ry} {bw} {bh} re f Q")
        ops.append(f"q {col} RG {sw} w {x1} {ry} {bw} {bh} re S Q")
        if label:
            ty = h - max(0, y1 - 15) - 12  # baseline for 12pt at (x1, y1-15)
            ops.append(
                f"q BT {col} rg /F1 12 Tf {x1} {ty} Td ({escape(label)}) Tj ET Q"
            )
    return "\n".join(ops).encode("latin-1")


def build_pdf(pages: list[PdfPage]) -> bytes:
    """Assemble pages into one PDF document (bytes)."""
    if not pages:
        raise ValueError("a PDF needs at least one page")
    # object layout: 1 catalog, 2 pages, 3 ExtGState, 4 font,
    # then per page i: (5+3i) page, (6+3i) contents, (7+3i) image
    objs: dict[int, bytes] = {}
    n = len(pages)
    kids = " ".join(f"{5 + 3 * i} 0 R" for i in range(n))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode()
    objs[3] = b"<< /Type /ExtGState /ca 0.08 /CA 1 >>"
    objs[4] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )

    for i, p in enumerate(pages):
        pg, ct, im = 5 + 3 * i, 6 + 3 * i, 7 + 3 * i
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {p.width} {p.height}] "
            f"/Resources << /XObject << /Im0 {im} 0 R >> "
            f"/ExtGState << /GSa 3 0 R >> /Font << /F1 4 0 R >> >> "
            f"/Contents {ct} 0 R >>"
        ).encode()
        # an empty entry list before /Length: `<<  /Length n >>`
        objs[ct] = stream_obj(_content_stream(p), b" ")
        parms = b""
        if p.codec == "jpeg":
            filt, cs, data = b"/DCTDecode", b"/DeviceRGB", p.image
        elif p.codec in ("png-rgb", "png-gray"):
            nch = 3 if p.codec == "png-rgb" else 1
            cs = b"/DeviceRGB" if nch == 3 else b"/DeviceGray"
            filt = b"/FlateDecode"
            data = p.image  # verbatim IDAT zlib stream (filtered scanlines)
            parms = (
                b" /DecodeParms << /Predictor 15 /Colors "
                + str(nch).encode()
                + b" /BitsPerComponent 8 /Columns " + str(p.width).encode()
                + b" >>"
            )
        elif p.codec in ("flate-rgb", "flate-gray"):
            nch = 3 if p.codec == "flate-rgb" else 1
            cs = b"/DeviceRGB" if nch == 3 else b"/DeviceGray"
            filt = b"/FlateDecode"
            if p.precompressed:
                data = p.image
            else:
                if len(p.image) != p.width * p.height * nch:
                    raise ValueError(f"{p.codec} image size mismatch")
                data = zlib.compress(p.image, 6)
        else:
            raise ValueError(f"unknown page codec {p.codec}")
        objs[im] = stream_obj(
            data,
            b"/Type /XObject /Subtype /Image /Width "
            + str(p.width).encode()
            + b" /Height " + str(p.height).encode()
            + b" /ColorSpace " + cs + b" /BitsPerComponent 8 /Filter " + filt
            + parms + b" ",
        )

    return serialize(objs, header=b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
