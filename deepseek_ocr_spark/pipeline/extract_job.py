"""The distributed extraction plan — the engine's flagship job.

Re-expresses the reference batch entry points (run_dpsk_ocr_eval_batch.py /
run_dpsk_ocr_pdf.py end-to-end flow, SURVEY.md §3) as one Spark DataFrame
plan over ``documents(url, warc_ts, html, text, lang)``:

  scan (column-pruned: url+html only)
    → [auto] spread repartition by url        [only when the input has fewer
       scan splits than the cluster parallelism — a real 100 TB table has
       thousands of splits and skips this shuffle entirely]
    → FUSED doc stage (rowmap.map_rows)       [the reference's per-document
       loop (pdf.py:285-320) in ONE Python call per input row: O-2 page
       split, O-38 kernel, O-19/O-33 SKIP_REPEAT gate + EOS strip, O-26/O-27
       kept-page ordinals jdx, O-30…O-36 cascade, O-24 ordered assembly,
       span parse + rescale, O-10/O-11 tile plan + O-13 vision tokens per
       kept page, text-token count, O-25 compression ratio + digest. It
       emits the final rows. Page html and page text never cross the Arrow
       boundary; iterator batches = the continuous-batching analog;
       per-worker kernel singleton]

Shuffle budget — ZERO exchanges on a well-laid-out input, plus the optional
input-spread repartition for few-split inputs: scan → one MapInArrow →
final rows, with no JVM expression tail. No aggregation, no windows, no
joins (tests/test_plan_lints.py pins this shape). The relational tile plan
(broadcast join + window) lives in operators/tiling_relational.py and is
tested to agree with the kernel the doc stage calls. ``url`` is the table's
unique key (FIXTURES.md); the plan emits one row per input row and never
groups by url, so two input rows sharing a url stay two rows (resume
dedupe, ``checkpoint.read_extracted_deduped``, is url-keyed). Projection
(url, html) prunes at the scan. Skew: work is distributed per document.
Web pages are bounded (≤~40 sections), so tasks even out at thousands of
docs each. A book-length document is one task's work; at ~0.13 ms per
page, a 5,000-page document still extracts faster here than a
page-granular plan, whose two extra shuffles and Arrow crossings cost more
than the page work they spread (docs/SCALE.md, "Giant-doc regime").
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from deepseek_ocr_spark.config import EngineConfig, DEFAULT_CONFIG
from deepseek_ocr_spark.kernels import postprocess as pp
from deepseek_ocr_spark.kernels.tiling import tile_plan
from deepseek_ocr_spark.kernels.tokens import num_text_tokens, num_vision_tokens
from deepseek_ocr_spark.rowmap import map_rows

# ---------------------------------------------------------------------------
# Page-level split+extract
# ---------------------------------------------------------------------------

# The kernel half of the fused doc stage, emitting extracted page rows with
# no per-document finalize. Standalone op — it times the split+extract layer
# on its own (perfbench) and shows why the page html stays inside the
# Python worker.
EXTRACTED_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("raw", T.StringType()),
    ]
)


def _split_extract_rows(url, html):
    kernel = _get_kernel()
    # null/bytes normalization happens inside the shared kernel
    for seq, rec in enumerate(kernel.split_pages(html)):
        yield url, rec.page_no, seq, rec.width, rec.height, kernel.extract_page(rec)


def split_and_extract(docs: DataFrame) -> DataFrame:
    """documents → extracted page rows (url, page_no, width, height, raw)."""
    return map_rows(docs.select("url", "html"), _split_extract_rows, EXTRACTED_PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Extraction kernel (per-Python-worker singleton)
# ---------------------------------------------------------------------------

_KERNEL = None  # per-Python-worker singleton (the one-replica-per-executor pattern)


def _get_kernel():
    global _KERNEL
    if _KERNEL is None:
        # the deterministic kernel has no weights to load; the singleton
        # pattern is kept so a real model drop-in initializes once per worker
        from deepseek_ocr_spark.kernels import extract as kernel_mod

        _KERNEL = kernel_mod
    return _KERNEL


# ---------------------------------------------------------------------------
# Per-document finalize — the fused doc stage's body
# ---------------------------------------------------------------------------

# Spans carry both the 0-999 virtual-grid coords (the model grammar) and the
# pixel-rescaled box (O-32, image.py:97-103) — the pixel coords feed the
# region side-output table (O-6 analog, metrics.region_images_table).
DOC_SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("label", T.StringType()),
            T.StructField("x1", T.IntegerType()),
            T.StructField("y1", T.IntegerType()),
            T.StructField("x2", T.IntegerType()),
            T.StructField("y2", T.IntegerType()),
            T.StructField("px1", T.IntegerType()),
            T.StructField("py1", T.IntegerType()),
            T.StructField("px2", T.IntegerType()),
            T.StructField("py2", T.IntegerType()),
            T.StructField("page_no", T.IntegerType()),
            T.StructField("ord", T.IntegerType()),
        ]
    )
)

# one row per input document: the extracted table
DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("raw_text", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("spans", DOC_SPAN_TYPE),
        # kept-page dims in assembly order: downstream sinks (layouts_table
        # O-7) rebuild per-page canvases from them without re-running the
        # split
        T.StructField(
            "page_dims",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page_no", T.IntegerType()),
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_vision_tokens", T.LongType()),
        T.StructField("n_text_tokens", T.LongType()),
        T.StructField("compression_ratio", T.DoubleType()),
        T.StructField("digest", T.StringType()),
    ]
)


def _finalize_doc(pages, cfg: EngineConfig) -> tuple:
    """One document's extracted pages ``(page_no, width, height, raw)`` in
    ``(page_no, seq)`` order → the DOC_SCHEMA columns after ``url``.

    The reference's per-document fold (pdf.py:285-320), mirroring
    ``oracle.runner.extract_url`` — same kernel functions, same iteration
    order: SKIP_REPEAT gate + EOS strip, tile plan + vision tokens, the
    per-page cascade with the kept-page ordinal jdx, span parse + rescale,
    page assembly, text-token count, compression ratio and digest."""
    raw_parts, clean_parts, spans, dims = [], [], [], []
    n_vision = 0
    for page_no, w, h, raw in pages:
        keep, content = pp.eos_keep_and_strip(raw, cfg.skip_repeat)
        if not keep:
            continue
        nw, nh = tile_plan(w, h, cfg.crop_mode, cfg.image_size, cfg.min_crops, cfg.max_crops)
        n_vision += num_vision_tokens(nw, nh, cfg.base_size, cfg.image_size)
        for s in pp.parse_spans(content):
            spans.append(
                (
                    s["label"], s["x1"], s["y1"], s["x2"], s["y2"],
                    *pp.rescale_box(s["x1"], s["y1"], s["x2"], s["y2"], w, h),
                    page_no, s["ord"],
                )
            )
        jdx = len(raw_parts)  # kept-page ordinal (pdf.py:285, 320)
        if cfg.mode == "eval":
            clean_parts.append(pp.clean_page_eval(content))
        elif cfg.mode == "image":
            clean_parts.append(pp.clean_page_image(content))
        else:
            clean_parts.append(pp.clean_page_pdf(content, jdx))
        raw_parts.append(content)
        dims.append((page_no, w, h))
    text = pp.assemble_pages(clean_parts)
    n_text = num_text_tokens(text)
    return (
        pp.assemble_pages(raw_parts), text, spans, dims, len(dims), n_vision, n_text,
        n_text / n_vision if n_vision else 0.0,
        hashlib.sha256(text.encode("utf-8")).hexdigest(),
    )


def _doc_rows(cfg: EngineConfig):
    def rows(url, html):
        kernel = _get_kernel()
        # split_pages returns pages in (page_no, seq) order; null/bytes
        # normalization happens inside the shared kernel
        pages = (
            (rec.page_no, rec.width, rec.height, kernel.extract_page(rec))
            for rec in kernel.split_pages(html)
        )
        yield (url, *_finalize_doc(pages, cfg))

    return rows


# ---------------------------------------------------------------------------
# The full plan
# ---------------------------------------------------------------------------


def extract_documents(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """documents → extracted(url, raw_text, text, spans, page_dims, n_pages,
    n_vision_tokens, n_text_tokens, compression_ratio, digest).

    Byte-identical per url to ``oracle.runner.extract_url`` (pytest gate).
    One output row per input row: ``url`` is the unique key and is never
    grouped on here; resume dedupe (``checkpoint.read_extracted_deduped``)
    stays url-keyed.

    Documents are repartitioned by url before the fused doc stage only
    when the input has fewer scan splits than the cluster's
    ``defaultParallelism`` — a well-laid-out 100 TB table already has
    thousands of scan splits, so the shuffle of html bytes is skipped; a
    single-file sandbox input gets spread so the Python stage isn't
    single-tasked. Work is distributed at doc granularity: a web page has
    ≤~40 sections, and one 2,000-page document (tests/test_byte_identity.py)
    stays byte-identical to the oracle within one task.
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    src = docs.select("url", "html")
    if src.rdd.getNumPartitions() < parallelism:
        src = src.repartition(parallelism, "url")

    return map_rows(src, _doc_rows(cfg), DOC_SCHEMA)
