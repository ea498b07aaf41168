"""O-7 (true-PDF tier): assemble annotated page images into a real PDF
per document — the byte-format analog of the reference's img2pdf step
(run_dpsk_ocr_pdf.py:97-119; box/label styling per :151-215: stroke 4 for
``title`` / 2 otherwise, translucent fill, label at (x1, y1-15)).

The SVG sink (pipeline/layouts.py) remains the pure-Catalyst debug tier;
this sink produces an actual ``_layouts.pdf`` artifact: page pixmaps are
embedded UNMODIFIED (JPEG bytes pass through verbatim as /DCTDecode —
img2pdf's trick, zero recompression; PNG pixels go lossless /FlateDecode)
and the annotation layer is PDF vector/text operators on top, so the
artifact is both smaller and higher-fidelity than burning boxes into
pixels.

Plan shape: one (url, page_no) join of pixmaps to span lists, a page
row function under ``rowmap.map_rows`` (decode header / JPEG
passthrough), then ONE url shuffle collecting the ordered page structs
into the per-doc assembly UDF — the same doc-level finalize shape as the
extraction pipeline itself.
Colors are the deterministic layouts.PALETTE (reference uses np.random;
a distributed sink must emit identical bytes on task retry)."""

from __future__ import annotations

import json
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.kernels import jpeg, pdfwrite, pixels
from deepseek_ocr_spark.pipeline.layouts import PALETTE
from deepseek_ocr_spark.rowmap import map_rows

_RGB = [tuple(int(c[i : i + 2], 16) for i in (1, 3, 5)) for c in PALETTE]

_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("image", T.BinaryType()),
        T.StructField("n_boxes", T.IntegerType()),
        T.StructField("boxes_json", T.StringType()),
    ]
)

PDF_DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("pdf", T.BinaryType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_boxes", T.IntegerType()),
    ]
)


def _prep_rows(url, page_no, data, boxes_json):
    """Per page: JPEG payloads pass through verbatim; 8-bit gray/RGB PNG
    IDAT streams ALSO pass through verbatim (/FlateDecode + /Predictor 15
    — the PNG analog of the DCTDecode trick; the stream is inflate-
    verified but never unfiltered or re-deflated); other PNG flavors
    (palette/alpha) decode to raw samples for lossless /FlateDecode
    embedding (alpha dropped — PDF image XObjects carry no alpha without
    SMask, out of scope for a debug artifact).  Undecodable payloads drop
    the page (hostile-payload rule); a JPEG variant with no native decoder
    (NotImplementedError) fails the task."""
    if data is None:
        return
    data = bytes(data)
    try:
        if data[:2] == b"\xff\xd8":
            w, h, _ch, _buf = jpeg.decode_jpeg(data)
            codec, image = "jpeg", data  # verbatim passthrough
        elif (info := pixels.png_pdf_stream(data)) is not None:
            w, h, ch, idat = info
            codec = "png-gray" if ch == 1 else "png-rgb"
            image = idat  # verbatim passthrough (Predictor 15)
        else:
            w, h, ch, buf = pixels.decode_png(data)
            if ch in (2, 4):  # strip alpha
                arr = np.frombuffer(buf, np.uint8).reshape(h, w, ch)
                buf = arr[..., : ch - 1].tobytes()
                ch -= 1
            codec = "flate-gray" if ch == 1 else "flate-rgb"
            # compress MAP-SIDE: the per-doc assembly group must
            # never hold raw samples (40 raw pages OOM'd a 1 GiB
            # driver; PdfPage.precompressed embeds these verbatim)
            image = zlib.compress(bytes(buf), 6)
    except ValueError:
        return
    n_boxes = len(json.loads(boxes_json)) if boxes_json else 0
    yield url, int(page_no), w, h, codec, image, n_boxes, boxes_json or "[]"


def _assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("page_no")
    pages = []
    n_boxes = 0
    for _, r in pdf.iterrows():
        boxes = []
        for b in json.loads(r["boxes_json"]):
            rgb = _RGB[int(b["ord"]) % len(_RGB)]
            sw = 4 if b.get("label") == "title" else 2
            boxes.append(
                (int(b["px1"]), int(b["py1"]), int(b["px2"]), int(b["py2"]),
                 rgb, sw, str(b.get("label", "")))
            )
        n_boxes += len(boxes)
        pages.append(
            pdfwrite.PdfPage(
                int(r["width"]), int(r["height"]), r["codec"],
                bytes(r["image"]), boxes,
                precompressed=r["codec"] != "jpeg",
            )
        )
    data = pdfwrite.build_pdf(pages)
    return pd.DataFrame(
        {"url": [key[0]], "pdf": [data], "n_pages": [len(pages)],
         "n_boxes": [n_boxes]}
    )


_PIXMAP_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("png", T.BinaryType()),
    ]
)


def _pixmap_rows(url, page_no, w, h):
    w, h = int(w), int(h)
    seed = (zlib.crc32(str(url).encode()) ^ (int(page_no) * 0x9E3779B1)) & 0xFFFFFFFF
    ys = np.arange(h, dtype=np.uint32)[:, None]
    xs = np.arange(w, dtype=np.uint32)[None, :]
    # LOW-frequency 16px block pattern on purpose: a noise pattern is
    # deflate-incompressible (~3 MB/page), and the per-doc binder holds a
    # whole document's pages in one group — 40 noise pages OOM'd a 1 GiB
    # driver.  Blocks compress ~100x and remain per-(url,page) unique.
    bx, by = xs >> 4, ys >> 4
    planes = [
        ((bx * 7 + by * 13 + seed) & 0xFF).astype(np.uint8),
        ((bx * 3 + by * 5 + (seed >> 8)) & 0xFF).astype(np.uint8),
        ((bx + by + (seed >> 16)) & 0xFF).astype(np.uint8),
    ]
    img = (w, h, 3, np.stack(planes, axis=-1).tobytes())
    yield url, int(page_no), pixels.encode_png(img)


def synthetic_page_pixmaps(extracted: DataFrame) -> DataFrame:
    """(url, page_no, png) deterministic pixmaps at each page's REAL dims —
    the sandbox stand-in feeding `annotated_pdf_docs` when no rasterized
    pages exist (same philosophy as kernels/pdfraster.rasterize_page: a
    real deployment injects actual page renders; the geometry and plan
    shape are identical either way)."""
    pages = extracted.select("url", F.explode("page_dims").alias("pd")).select(
        "url",
        F.col("pd.page_no").alias("page_no"),
        F.col("pd.width").alias("width"),
        F.col("pd.height").alias("height"),
    )
    return map_rows(pages, _pixmap_rows, _PIXMAP_SCHEMA)


def annotated_pdf_docs(pages_df: DataFrame, extracted: DataFrame) -> DataFrame:
    """(url, page_no, png) pixmaps × extracted spans → one real
    ``_layouts.pdf`` artifact per url: (url, pdf binary, n_pages, n_boxes).

    Pages with no spans still appear in the PDF (reference behavior: every
    page is bound).  Spans are serialized to JSON for the Arrow hop — they
    are debug metadata, not a parity surface."""
    spans = (
        extracted.select("url", F.explode("spans").alias("s"))
        .select(
            "url",
            F.col("s.page_no").alias("page_no"),
            F.struct(
                F.col("s.ord").alias("ord"),
                F.col("s.label").alias("label"),
                F.col("s.px1").alias("px1"),
                F.col("s.py1").alias("py1"),
                F.col("s.px2").alias("px2"),
                F.col("s.py2").alias("py2"),
            ).alias("box"),
        )
        .groupBy("url", "page_no")
        .agg(F.to_json(F.array_sort(F.collect_list("box"))).alias("boxes_json"))
    )
    joined = (
        pages_df.join(spans, ["url", "page_no"], "left")
        .select("url", "page_no", "png", "boxes_json")
    )
    prepped = map_rows(joined, _prep_rows, _PAGE_SCHEMA)
    # explicit REPARTITION_BY_NUM before the per-doc Python binder (the
    # CLAUDE.md r2 rule): the url exchange is byte-light relative to the
    # binder's compute, and AQE's byte-based coalescing was folding the
    # assembly stage onto a handful of tasks (r8 x10 probe: the binder
    # stage dominated the sink at ~2.2 s on ~3 coalesced partitions)
    n_part = int(
        prepped.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return (
        prepped.repartition(n_part, "url")
        .groupBy("url")
        .applyInPandas(_assemble, PDF_DOC_SCHEMA)
    )
