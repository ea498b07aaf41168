"""The distributed extraction plan — the engine's flagship job.

Re-expresses the reference batch entry points (run_dpsk_ocr_eval_batch.py /
run_dpsk_ocr_pdf.py end-to-end flow, SURVEY.md §3) as one Spark DataFrame
plan over ``documents(url, warc_ts, html, text, lang)``:

  scan (column-pruned: url+html only)
    → [auto] spread repartition by url        [only when the input has fewer
       scan splits than the cluster parallelism — a real 100 TB table has
       thousands of splits and skips this shuffle entirely]
    → FUSED mapInPandas doc stage             [the reference's per-document
       loop (pdf.py:285-320) in ONE Python call per input row: O-2 page
       split, O-38 kernel, O-19/O-33 SKIP_REPEAT gate + EOS strip, O-26/O-27
       kept-page ordinals jdx, O-30…O-36 cascade, O-24 ordered assembly,
       span parse + rescale, text-token count. Page html and page text
       never cross the Arrow boundary; iterator batches = the continuous-
       batching analog; per-worker kernel singleton]
    → vision tokens as a zero-shuffle fold    [O-10/O-11 tile plan over the
       13-candidate literal array per kept page (the broadcast-join+window
       formulation lives in operators/tiling_relational.py and is verified
       to agree), O-13 token count summed over page_dims]
    → compression ratio + digest columns      [O-25]

Shuffle budget — ZERO exchanges on a well-laid-out input, plus the optional
input-spread repartition for few-split inputs: scan → one Python stage →
JVM expression tail. No aggregation, no windows, no joins (tests/test_plan_lints.py
pins this shape). ``url`` is the table's unique key (FIXTURES.md); the plan
emits one row per input row and never groups by url, so two input rows
sharing a url stay two rows (resume dedupe, ``checkpoint.
read_extracted_deduped``, is url-keyed). Projection (url, html) prunes at
the scan. Skew: work per doc is bounded (≤~40 pages × the 8192-token cap),
so doc-granular distribution evens out at thousands of docs per task;
book-length documents use ``extract_documents_paged``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.config import EngineConfig, DEFAULT_CONFIG
from deepseek_ocr_spark.kernels import postprocess as pp
from deepseek_ocr_spark.kernels.tiling import candidate_ratios
from deepseek_ocr_spark.kernels.tokens import num_text_tokens
from deepseek_ocr_spark.operators.tiling_relational import vision_tokens_col

# ---------------------------------------------------------------------------
# Page split (mapInPandas; cheap, streaming) — the giant-doc path's fan-out
# ---------------------------------------------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("page_html", T.StringType()),
        T.StructField("degenerate", T.BooleanType()),
    ]
)


def _split_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from deepseek_ocr_spark.kernels.extract import split_pages

    for pdf in batches:
        out = {k: [] for k in PAGES_SCHEMA.fieldNames()}
        for doc, url, html in zip(pdf["doc"], pdf["url"], pdf["html"]):
            # null/bytes normalization happens inside the shared kernel
            for seq, rec in enumerate(split_pages(html)):
                out["doc"].append(doc)
                out["url"].append(url)
                out["page_no"].append(rec.page_no)
                out["seq"].append(seq)
                out["width"].append(rec.width)
                out["height"].append(rec.height)
                out["page_html"].append(rec.html)
                out["degenerate"].append(rec.degenerate)
        yield pd.DataFrame(out)


def split_to_pages(docs: DataFrame) -> DataFrame:
    """documents → one row per page (the PDF-render fan-out analog,
    reference pdf.py:64-95), keyed by ``(doc, seq)``: ``doc`` is a per-input-
    row id taken before the split, so rows sharing a url stay apart."""
    src = docs.select(F.monotonically_increasing_id().alias("doc"), "url", "html")
    return src.mapInPandas(_split_batches, PAGES_SCHEMA)


# Page-level split+extract: the kernel half of the fused doc stage, emitting
# extracted page rows with no per-document finalize. Standalone op — it
# times the split+extract layer on its own (perfbench) and shows why the
# page html stays inside the Python worker.
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


def _split_extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    kernel = _get_kernel()
    for pdf in batches:
        out = {k: [] for k in ("url", "page_no", "seq", "width", "height", "raw")}
        for url, html in zip(pdf["url"], pdf["html"]):
            # null/bytes normalization happens inside the shared kernel
            for seq, rec in enumerate(kernel.split_pages(html)):
                out["url"].append(url)
                out["page_no"].append(rec.page_no)
                out["seq"].append(seq)
                out["width"].append(rec.width)
                out["height"].append(rec.height)
                out["raw"].append(kernel.extract_page(rec))
        yield pd.DataFrame(out)


def split_and_extract(docs: DataFrame) -> DataFrame:
    """documents → extracted page rows (url, page_no, width, height, raw)."""
    return docs.select("url", "html").mapInPandas(
        _split_extract_batches, EXTRACTED_PAGES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Tile plan as a zero-shuffle fold over the candidate literal array
# ---------------------------------------------------------------------------


def tile_plan_expr(width: Column, height: Column, cfg: EngineConfig = DEFAULT_CONFIG) -> Column:
    """(nw, nh) via ``F.aggregate`` over the 13-candidate array — the
    reference argmin scan (image_process.py:11-25) translated literally into
    a whole-stage-codegen fold: no shuffle, no UDF, no join.

    Returns struct(nw, nh).
    """
    cands = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for (i, j) in candidate_ratios(cfg.min_crops, cfg.max_crops)
        ]
    )
    aspect = width.cast("double") / height.cast("double")
    area = (width * height).cast("double")
    half_sq = F.lit(0.5 * cfg.image_size * cfg.image_size)

    def step(acc, c):
        diff = F.abs(aspect - c["i"].cast("double") / c["j"].cast("double"))
        better = diff < acc["diff"]
        tie_takes = (diff == acc["diff"]) & (area > half_sq * c["i"] * c["j"])
        return F.when(
            better | tie_takes,
            F.struct(diff.alias("diff"), c["i"].alias("nw"), c["j"].alias("nh")),
        ).otherwise(acc)

    folded = F.aggregate(
        cands,
        F.struct(
            F.lit(float("inf")).alias("diff"),
            F.lit(1).alias("nw"),
            F.lit(1).alias("nh"),
        ),
        step,
        # project inside the fold so it is evaluated once, not per field
        lambda acc: F.struct(acc["nw"].alias("nw"), acc["nh"].alias("nh")),
    )
    bypass = (width <= cfg.image_size) & (height <= cfg.image_size)
    if not cfg.crop_mode:
        bypass = F.lit(True)
    return F.when(bypass, F.struct(F.lit(1).alias("nw"), F.lit(1).alias("nh"))).otherwise(folded)


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
# Per-document finalize — the one body both plans run
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

# one row per input document, before the expression tail
DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("raw_text", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("spans", DOC_SPAN_TYPE),
        # kept-page dims in assembly order: the tail sums vision tokens over
        # them and downstream sinks (layouts_table O-7) rebuild per-page
        # canvases from them without re-running the split
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
        T.StructField("n_text_tokens", T.LongType()),
    ]
)


def _finalize_doc(pages, cfg: EngineConfig) -> tuple:
    """One document's extracted pages ``(page_no, width, height, raw)`` in
    ``(page_no, seq)`` order → ``(raw_text, text, spans, page_dims, n_pages,
    n_text_tokens)``.

    The reference's per-document fold (pdf.py:285-320), mirroring
    ``oracle.runner.extract_url`` — same kernel functions, same iteration
    order: SKIP_REPEAT gate + EOS strip, the per-page cascade with the
    kept-page ordinal jdx, span parse + rescale, page assembly, text-token
    count."""
    raw_parts, clean_parts, spans, dims = [], [], [], []
    for page_no, w, h, raw in pages:
        keep, content = pp.eos_keep_and_strip(raw, cfg.skip_repeat)
        if not keep:
            continue
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
    return pp.assemble_pages(raw_parts), text, spans, dims, len(dims), num_text_tokens(text)


def _extract_doc_batches(cfg: EngineConfig):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _get_kernel()
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                # split_pages returns pages in (page_no, seq) order; null/
                # bytes normalization happens inside the shared kernel
                pages = (
                    (rec.page_no, rec.width, rec.height, kernel.extract_page(rec))
                    for rec in kernel.split_pages(html)
                )
                rows.append((url, *_finalize_doc(pages, cfg)))
            yield pd.DataFrame(rows, columns=DOC_SCHEMA.fieldNames())

    return run


def _doc_tail(docs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """DOC_SCHEMA rows → the extracted table: vision tokens folded over the
    kept pages' tile plans, compression ratio and digest — JVM
    expressions, no shuffle."""
    plans = F.transform("page_dims", lambda p: tile_plan_expr(p["width"], p["height"], cfg))
    n_vision_tokens = F.aggregate(
        plans,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + vision_tokens_col(t["nw"], t["nh"], cfg.base_size, cfg.image_size),
    )
    result = docs.select(
        "url", "raw_text", "text", "spans", "page_dims", "n_pages",
        n_vision_tokens.alias("n_vision_tokens"),
        "n_text_tokens",
    )
    result = result.withColumn(
        "compression_ratio",
        F.when(
            F.col("n_vision_tokens") > 0,
            F.col("n_text_tokens").cast("double") / F.col("n_vision_tokens"),
        ).otherwise(F.lit(0.0)),
    )
    return result.withColumn("digest", F.sha2(F.encode(F.col("text"), "UTF-8"), 256))


# ---------------------------------------------------------------------------
# The full plan
# ---------------------------------------------------------------------------


def extract_documents(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    page_partitions: int | None = None,
    spread_input: bool | None = None,
) -> DataFrame:
    """documents → extracted(url, raw_text, text, spans, page_dims, n_pages,
    n_vision_tokens, n_text_tokens, compression_ratio, digest).

    Byte-identical per url to ``oracle.runner.extract_url`` (pytest gate).
    One output row per input row: ``url`` is the unique key and is never
    grouped on here; resume dedupe (``checkpoint.read_extracted_deduped``)
    stays url-keyed.

    ``spread_input``: repartition documents by url before the fused doc
    stage. Auto (None): only when the input has fewer partitions than the
    cluster's parallelism — a well-laid-out 100 TB table already has
    thousands of scan splits, so the shuffle of html bytes is skipped; a
    single-file sandbox input gets spread so the Python stage isn't
    single-tasked. Work per doc is bounded (≤~40 pages × the 8192
    output-token cap), so doc-granularity distribution is skew-safe at
    thousands of docs per task.
    """
    spark = docs.sparkSession
    if page_partitions is None:
        page_partitions = spark.sparkContext.defaultParallelism

    src = docs.select("url", "html")
    if spread_input is None:
        spread_input = src.rdd.getNumPartitions() < page_partitions
    if spread_input:
        src = src.repartition(page_partitions, "url")

    return _doc_tail(src.mapInPandas(_extract_doc_batches(cfg), DOC_SCHEMA), cfg)


@F.pandas_udf(T.StringType())
def page_extract_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
    """Page-granular kernel call for the giant-doc path: one page row →
    raw grounded markdown (iterator form, per-worker singleton)."""
    kernel = _get_kernel()
    PageRecord = kernel.PageRecord
    for pdf in it:
        yield pd.Series(
            [
                kernel.extract_page(
                    PageRecord(int(pn), int(w), int(h), ph, bool(dg))
                )
                for pn, w, h, ph, dg in zip(
                    pdf["page_no"], pdf["width"], pdf["height"],
                    pdf["page_html"], pdf["degenerate"],
                )
            ]
        )


def _finalize_group(cfg: EngineConfig):
    def run(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["page_no", "seq"])
        pages = zip(
            g["page_no"].tolist(), g["width"].tolist(), g["height"].tolist(), g["raw"].tolist()
        )
        return pd.DataFrame(
            [(g["url"].iloc[0], *_finalize_doc(pages, cfg))], columns=DOC_SCHEMA.fieldNames()
        )

    return run


def extract_documents_paged(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    page_partitions: int | None = None,
) -> DataFrame:
    """Page-granular variant for the giant-document regime (SURVEY.md §4.1).

    The fused path distributes work at doc granularity — correct when docs
    are bounded (web pages, ≤~40 sections). When single documents are
    enormous (book-length PDFs: thousands of pages), one doc must not pin
    one task, so this path splits FIRST, shuffles pages by the salted page
    key (an explicit skew spread — AQE cannot rebalance UDF-stage work),
    extracts page-at-a-time, then regroups each document's pages for the
    same ``_finalize_doc`` and expression tail as ``extract_documents``.
    Byte-identical to ``extract_documents`` (pytest gate) and, like it, one
    output row per input row: pages regroup by a per-row id taken before
    the split, not by ``url`` (the unique key; resume dedupe in
    ``checkpoint.read_extracted_deduped`` stays url-keyed). Costs a shuffle
    of page html, a shuffle of page text and two more Python stages, which
    is why it is not the default.
    """
    spark = docs.sparkSession
    if page_partitions is None:
        page_partitions = spark.sparkContext.defaultParallelism

    pages = split_to_pages(docs)
    # salted page-key spread: pages of one giant doc scatter across tasks
    pages = pages.repartition(
        page_partitions, F.pmod(F.hash("doc", "seq"), F.lit(page_partitions * 8))
    )
    pages = pages.withColumn(
        "raw",
        page_extract_udf(F.struct("page_no", "width", "height", "page_html", "degenerate")),
    ).drop("page_html", "degenerate")
    # Explicit REPARTITION_BY_NUM rather than the groupBy's own exchange:
    # AQE's byte-based coalescing shrank the post-shuffle stage to 1 task
    # (observed in the event log), serializing the Python finalize stage.
    pages = pages.repartition(page_partitions, "doc")
    finalized = pages.groupBy("doc").applyInPandas(_finalize_group(cfg), DOC_SCHEMA)
    return _doc_tail(finalized, cfg)
