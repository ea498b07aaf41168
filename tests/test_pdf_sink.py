"""True-PDF layout sink (kernels/pdfwrite.py + pipeline/pdfsink.py):
structural validity (xref byte offsets, page tree), lossless image
embedding (flate round-trip, verbatim JPEG passthrough), label text
readable back through the repo's own PDF text parser, determinism, and
the Spark per-doc assembly."""

import re
import struct as _struct
import zlib

import pytest

from deepseek_ocr_spark.kernels import jpeg as jpeg_kernel
from deepseek_ocr_spark.kernels import pdftext, pdfwrite, pixels
from deepseek_ocr_spark.kernels.pdftext import extract_pdf_text
from deepseek_ocr_spark.kernels.pdfwrite import PdfPage, build_pdf
from tests.test_pixels import gradient


def _page(w=32, h=24, boxes=None):
    img = gradient(w, h, 3)
    return PdfPage(w, h, "flate-rgb", img[3], boxes or [])


_TWO_PAGES = ["page one (a)\nline two \\ end", "page two é"]


@pytest.mark.parametrize(
    "write, n_objs",
    [
        (lambda: build_pdf([_page(), _page(16, 16)]), 10),  # 4 shared + 3 per page x 2
        (lambda: pdftext.make_simple_pdf(_TWO_PAGES, compress=False), 6),
        (lambda: pdftext.make_simple_pdf(_TWO_PAGES, compress=True), 6),
        (lambda: pdftext.make_cid_pdf(_TWO_PAGES), 10),
        (lambda: pdftext.make_encrypted_pdf(_TWO_PAGES, r=2), 7),
        (lambda: pdftext.make_encrypted_pdf(_TWO_PAGES, r=3), 7),
        (lambda: pdftext.make_encrypted_pdf(_TWO_PAGES, r=4), 7),
    ],
    ids=["sink", "simple-raw", "simple-flate", "cid", "enc-r2", "enc-r3", "enc-r4"],
)
def test_structure_and_xref_offsets(write, n_objs):
    """The sink and the classic fixture writers share one serializer, so
    every xref table must land exactly. The text parser alone would not
    show a wrong fixture offset: its scavenge path finds objects without
    the xref."""
    data = write()
    assert data.startswith(b"%PDF-1.4") and data.rstrip().endswith(b"%%EOF")
    m = re.search(rb"startxref\n(\d+)\n%%EOF", data)
    xref_at = int(m.group(1))
    assert data[xref_at : xref_at + 4] == b"xref"
    # every xref entry must point at exactly "N 0 obj"
    entries = re.findall(rb"(\d{10}) 00000 n", data[xref_at:])
    assert len(entries) == n_objs
    for num, off in enumerate(entries, start=1):
        at = int(off)
        assert data[at:].startswith(f"{num} 0 obj".encode()), num
    assert b"/Count 2" in data


def test_flate_image_roundtrip():
    img = gradient(20, 10, 3)
    data = build_pdf([PdfPage(20, 10, "flate-rgb", img[3])])
    m = re.search(
        rb"/Subtype /Image[^>]*/Filter /FlateDecode /Length (\d+) >>\nstream\n",
        data,
    )
    start = m.end()
    comp = data[start : start + int(m.group(1))]
    assert zlib.decompress(comp) == img[3]


def test_png_idat_passthrough_verbatim():
    """The PNG analog of the DCTDecode trick: an 8-bit RGB PNG's IDAT
    zlib stream embeds byte-for-byte as /FlateDecode + /Predictor 15;
    inflate + unfilter of the extracted stream must reproduce the exact
    pixels (here the source PNG uses filter 0 rows, so unfiltering is
    stripping the per-row filter byte)."""
    img = gradient(20, 10, 3)
    png = pixels.encode_png(img)
    info = pixels.png_pdf_stream(png)
    assert info is not None and info[:3] == (20, 10, 3)
    data = build_pdf([PdfPage(20, 10, "png-rgb", info[3])])
    assert info[3] in data  # verbatim
    assert b"/Predictor 15" in data and b"/Columns 20" in data
    m = re.search(
        rb"/Filter /FlateDecode /DecodeParms[^>]*>> /Length (\d+) >>\nstream\n",
        data,
    )
    comp = data[m.end() : m.end() + int(m.group(1))]
    raw = zlib.decompress(comp)
    rows = [raw[i * 61 : (i + 1) * 61] for i in range(10)]  # stride 3*20+1
    assert all(r[0] == 0 for r in rows)  # our encoder emits filter 0
    assert b"".join(r[1:] for r in rows) == img[3]


def test_png_pdf_stream_gates():
    # alpha / palette flavors fall back (None); corrupt raises ValueError
    rgba = gradient(8, 6, 4)
    assert pixels.png_pdf_stream(pixels.encode_png(rgba)) is None
    gray = gradient(8, 6, 1)
    assert pixels.png_pdf_stream(pixels.encode_png(gray))[:3] == (8, 6, 1)
    good = bytearray(pixels.encode_png(gradient(8, 6, 3)))
    good[50] ^= 0xFF  # corrupt inside IDAT
    with pytest.raises(ValueError):
        pixels.png_pdf_stream(bytes(good))


def test_png_pdf_stream_mutation_fuzz():
    """png_pdf_stream obeys the hostile-input contract: mutated/truncated
    PNGs either decode-gate cleanly (None / a valid tuple) or raise
    ValueError — never a deep zlib/struct exception."""
    import numpy as np

    base = pixels.encode_png(gradient(16, 12, 3))
    rng = np.random.RandomState(9)
    for trial in range(300):
        data = bytearray(base)
        if trial % 2:
            for _ in range(rng.randint(1, 5)):
                data[rng.randint(0, len(data))] = rng.randint(0, 256)
        else:
            data = data[: rng.randint(2, len(data))]
        try:
            info = pixels.png_pdf_stream(bytes(data))
            assert info is None or len(info) == 4
        except ValueError:
            pass  # the only allowed failure


def test_jpeg_passthrough_verbatim():
    jpg = jpeg_kernel.encode_jpeg_baseline(gradient(24, 16, 3), quality=90)
    data = build_pdf([PdfPage(24, 16, "jpeg", jpg)])
    assert jpg in data  # img2pdf-style: byte-for-byte embedded
    assert b"/DCTDecode" in data


def test_gray_pages_and_empty_raises():
    img = gradient(12, 8, 1)
    data = build_pdf([PdfPage(12, 8, "flate-gray", img[3])])
    assert b"/DeviceGray" in data
    with pytest.raises(ValueError):
        build_pdf([])
    with pytest.raises(ValueError):
        build_pdf([PdfPage(5, 5, "flate-rgb", b"short")])


def test_labels_extract_back_through_own_parser():
    boxes = [
        (2, 3, 20, 15, (214, 39, 40), 4, "title"),
        (2, 16, 28, 22, (31, 119, 180), 2, "text"),
    ]
    data = build_pdf([_page(boxes=boxes)])
    text = "\n".join(extract_pdf_text(data))
    assert "title" in text and "text" in text


def test_non_latin1_label_degrades_not_crashes():
    """A CJK/emoji span label must degrade to '?' in the content stream
    (latin-1 page encoding), never UnicodeEncodeError out of the per-doc
    assemble UDF."""
    boxes = [(2, 3, 20, 15, (214, 39, 40), 4, "图表 ümlaut")]
    data = build_pdf([_page(boxes=boxes)])
    text = "\n".join(extract_pdf_text(data))
    assert "?? ümlaut" in text  # latin-1 chars survive, CJK degrades


def test_deterministic_bytes():
    mk = lambda: build_pdf(
        [_page(boxes=[(1, 1, 10, 10, (0, 0, 0), 2, "t (esc)")]), _page(16, 16)]
    )
    assert mk() == mk()


def test_spark_annotated_pdf_docs(spark):
    from deepseek_ocr_spark.entry_queries import docs_from_driver_table
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.pipeline.pdfsink import annotated_pdf_docs

    from pyspark.sql import functions as F

    docs = docs_from_driver_table(spark, "/root/testdata/sf0.001").limit(6)
    extracted = extract_documents(docs)
    # synthesize one pixmap per (url, page_no) from the page dims
    pages = extracted.select(
        "url", F.explode("page_dims").alias("pd")
    ).select("url", "pd.page_no", "pd.width", "pd.height").collect()
    rows = []
    for r in pages:
        w = min(int(r["width"]), 40)  # keep fixture pixmaps tiny
        h = min(int(r["height"]), 30)
        rows.append((r["url"], int(r["page_no"]), pixels.encode_png(gradient(w, h))))
    pages_df = spark.createDataFrame(rows, "url STRING, page_no INT, png BINARY")

    out = annotated_pdf_docs(pages_df, extracted).collect()
    assert len(out) == extracted.count()
    by_url = {r["url"]: r for r in out}
    exp_pages = {r2["url"]: 0 for r2 in out}
    for r in pages:
        exp_pages[r["url"]] += 1
    for url, row in by_url.items():
        data = bytes(row["pdf"])
        assert data.startswith(b"%PDF-1.4")
        assert row["n_pages"] == exp_pages[url]
        assert data.count(b"/Subtype /Image") == row["n_pages"]

    # determinism across runs
    out2 = {r["url"]: bytes(r["pdf"]) for r in annotated_pdf_docs(pages_df, extracted).collect()}
    assert {u: bytes(r["pdf"]) for u, r in by_url.items()} == out2


def test_spark_jpeg_pixmaps_pass_through(spark):
    from pyspark.sql import functions as F
    from deepseek_ocr_spark.pipeline.pdfsink import annotated_pdf_docs

    jpg = jpeg_kernel.encode_jpeg_baseline(gradient(30, 20, 3), quality=90)
    pages_df = spark.createDataFrame(
        [("doc://1", 0, jpg)], "url STRING, page_no INT, png BINARY"
    )
    empty_extracted = spark.createDataFrame(
        [],
        "url string, spans array<struct<page_no:int,ord:int,label:string,"
        "px1:int,py1:int,px2:int,py2:int>>",
    )
    out = annotated_pdf_docs(pages_df, empty_extracted).collect()
    assert len(out) == 1
    assert jpg in bytes(out[0]["pdf"])
