"""PDF document source — text-layer extraction over binary PDF columns
(north_rule: "PDF/layout parse"; kernel: kernels/pdftext.py, pure stdlib).

The triage a 100 TB mixed crawl runs: extract the embedded TEXT LAYER
where one exists (this source, cheap), and ROUTE image-only/unsupported
pages through rasterize+OCR (the reference's primary path,
run_dpsk_ocr_pdf.py:64-95 — kernels/pdfraster.py here: real MediaBox×144dpi
geometry, deterministic sandbox pixmap + OCR stub, injectable real
rasterizer). Pages with an empty extracted text layer are the routing
signal; with ``ocr_route=True`` (default) they no longer dead-end — their
page div carries the RASTER dimensions (data-width/data-height), so the
downstream extraction pipeline computes real tile plans and vision-token
budgets for scanned pages, and their text is the documented OCR
substitution output.

Both stages are row functions under the one Python row stage
(``rowmap.map_rows``): ``pdf_pages`` fans one file out to one row per
page (the 1→many shape of multimodal.frame_sample), and hostile payloads
yield zero pages, never a task failure; ``load_documents_pdf`` maps one
file to one document row.
"""

from __future__ import annotations

import html

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.kernels.pdftext import extract_pdf_text
from deepseek_ocr_spark.rowmap import map_rows
from deepseek_ocr_spark.sources.catalog import DOCS_SCHEMA

PDF_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("route", T.StringType()),  # 'text' | 'ocr'
    ]
)


def _page_rows(url, data):
    if data is None:
        return
    for ix, text in enumerate(extract_pdf_text(bytes(data))):
        yield url, ix, text, "text" if text else "ocr"


def pdf_pages(docs: DataFrame, url_col: str = "url", pdf_col: str = "pdf") -> DataFrame:
    """(url, binary pdf) → one row per page with the extracted text layer
    and the triage ``route`` ('text' = has a text layer, 'ocr' = empty →
    rasterize+OCR candidate)."""
    src = docs.select(F.col(url_col).alias("url"), F.col(pdf_col).alias("pdf"))
    return map_rows(src, _page_rows, PDF_PAGES_SCHEMA)


def _pages_to_html(pages: list[tuple[str, tuple[int, int] | None]]) -> bytes:
    """(text, raster_dims_or_None) per page → the engine's document model:
    one page div per PDF page (the extraction pipeline's splitter consumes
    exactly this shape), one <p> per text line, entities escaped. OCR-routed
    pages carry their RASTER dimensions so the tile planner downstream runs
    on the real pixmap geometry instead of the default page size."""
    divs = []
    for p, (text, dims) in enumerate(pages):
        body = "".join(
            f"<p>{html.escape(line, quote=False)}</p>"
            for line in text.split("\n")
            if line
        )
        attrs = f' data-width="{dims[0]}" data-height="{dims[1]}"' if dims else ""
        divs.append(f'<div class="page" data-page="{p}"{attrs}>{body}</div>')
    return ("<html><body>" + "".join(divs) + "</body></html>").encode("utf-8")


def _route_pages(data: bytes | None, ocr_route: bool) -> list[tuple[str, tuple[int, int] | None]]:
    """Per-page (text, raster_dims): text-layer pages pass through; empty
    pages rasterize (real geometry, sandbox pixmap) + OCR-substitute."""
    if data is None:
        return []
    raw = bytes(data)
    pages = extract_pdf_text(raw)
    if not ocr_route or all(pages):
        return [(t, None) for t in pages]
    from deepseek_ocr_spark.kernels.pdfraster import (
        ocr_page_text,
        page_sizes,
        rasterize_page,
    )

    sizes = page_sizes(raw)  # parse ONCE; a 500-page scan is not 500 parses
    out: list[tuple[str, tuple[int, int] | None]] = []
    for ix, text in enumerate(pages):
        if text:
            out.append((text, None))
            continue
        try:
            img = rasterize_page(raw, ix, sizes=sizes)
        except Exception:
            out.append(("", None))  # unroutable page degrades, never raises
            continue
        out.append((ocr_page_text(img, ix), (img[0], img[1])))
    return out


def _doc_rows(ocr_route: bool):
    def rows(url, ts, data):
        pages = _route_pages(data, ocr_route)
        text = "\n\n".join(t for t, _d in pages)
        yield url, ts, _pages_to_html(pages), text, None  # lang unknown

    return rows


def load_documents_pdf(
    spark: SparkSession, path: str, glob: str = "*.pdf", ocr_route: bool = True
) -> DataFrame:
    """Directory of .pdf files → input_hint document shape in ONE pass
    (each file is read and parsed exactly once; no shuffle): text = the
    joined per-page text (text layer, or the OCR route output for
    image-only pages), html = the page-div document-model rendering, so
    the extraction pipeline consumes a MIXED pdf drop directly
    (run_extract --input-format pdf) with real per-page fan-out and real
    raster geometry on scanned pages. ``ocr_route=False`` restores the
    text-layer-only triage (empty pages stay empty). Use pdf_pages for the
    page-granular table with the route column."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(F.col("path").alias("url"),
                F.col("modificationTime").alias("warc_ts"),
                F.col("content").alias("pdf"))
    )
    return map_rows(raw, _doc_rows(ocr_route), DOCS_SCHEMA)
