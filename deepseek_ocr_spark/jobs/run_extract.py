"""spark-submit entry point (north_rule: ``spark-submit --py-files``).

Usage:
    spark-submit --py-files deepseek_ocr_spark.zip \
        deepseek_ocr_spark/jobs/run_extract.py \
        --input /path/to/documents.parquet --output /path/to/out \
        [--mode pdf|eval|image] [--resume] [--n-docs 2000]

Without --input, generates the synthetic corpus (--n-docs) in-session.
Writes extracted/ (one append per run; also the resume record) +
metrics/ + lineage/ + region_images/ + layouts/ + layouts_doc/ (per-doc
assembled artifact) under --output; with --resume, urls already in extracted/ are anti-joined
away, and nothing pending appends nothing.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "warc", "jsonl", "pdf", "dir"],
                    help="how to read --input (all loaders emit the same "
                    "input_hint document shape)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", default="pdf", choices=["pdf", "eval", "image"])
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--attempt", type=int, default=0)
    ap.add_argument(
        "--layouts-pdf", action="store_true",
        help="also write layouts_pdf/ — one TRUE annotated _layouts.pdf "
        "artifact per doc (pipeline/pdfsink.py); pixmaps are deterministic "
        "synthetic pages unless a real rasterizer feeds the sink",
    )
    args = ap.parse_args(argv)

    from deepseek_ocr_spark.config import EngineConfig
    from deepseek_ocr_spark.pipeline import checkpoint as ckpt
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.pipeline.metrics import (
        lineage_table,
        metrics_table,
        region_images_table,
    )
    from deepseek_ocr_spark.pipeline.layouts import layouts_doc, layouts_table
    from deepseek_ocr_spark.pipeline.session import build_session

    spark = build_session(app_name="run-extract")
    t0 = time.time()

    if args.input:
        if args.input_format == "parquet":
            docs = spark.read.parquet(args.input)
        elif args.input_format == "warc":
            from deepseek_ocr_spark.sources.warc import load_documents_warc

            docs = load_documents_warc(spark, args.input)
        elif args.input_format == "jsonl":
            from pyspark.sql import functions as F

            from deepseek_ocr_spark.sources.warc import load_documents_jsonl

            # quarantine malformed lines BEFORE dropping the marker column —
            # a corrupt row otherwise becomes a phantom document with NULL
            # url/text and html coalesced to b"" flowing into extraction
            docs = (
                load_documents_jsonl(spark, args.input)
                .filter(F.col("_corrupt_record").isNull())
                .drop("_corrupt_record")
            )
        elif args.input_format == "pdf":
            from deepseek_ocr_spark.sources.pdf import load_documents_pdf

            docs = load_documents_pdf(spark, args.input)
        else:
            from deepseek_ocr_spark.sources.catalog import load_documents_dir

            docs = load_documents_dir(spark, args.input)
    else:
        from deepseek_ocr_spark.datagen.synth import gen_documents
        from deepseek_ocr_spark.sources.catalog import DOCS_SCHEMA

        docs = spark.createDataFrame(gen_documents(args.n_docs), DOCS_SCHEMA)

    cfg = EngineConfig(mode=args.mode)
    if args.resume:
        ckpt.commit_pending(docs, args.output, cfg, attempt=args.attempt)
    else:
        ckpt.commit_run(extract_documents(docs, cfg), args.output, attempt=args.attempt)

    # the derived tables are rewritten even when nothing was pending, so a
    # run that crashed between its commit and these writes is repaired by
    # a no-op resume
    final = ckpt.read_extracted_deduped(spark, args.output)
    metrics_table(final).write.mode("overwrite").parquet(
        os.path.join(args.output, "metrics")
    )
    lineage_table(final).write.mode("overwrite").parquet(
        os.path.join(args.output, "lineage")
    )
    region_images_table(final).write.mode("overwrite").parquet(
        os.path.join(args.output, "region_images")
    )
    layouts_table(final).write.mode("overwrite").parquet(
        os.path.join(args.output, "layouts")
    )
    layouts_doc(final).write.mode("overwrite").parquet(
        os.path.join(args.output, "layouts_doc")
    )
    if args.layouts_pdf:
        from deepseek_ocr_spark.pipeline.pdfsink import (
            annotated_pdf_docs,
            synthetic_page_pixmaps,
        )

        annotated_pdf_docs(synthetic_page_pixmaps(final), final).write.mode(
            "overwrite"
        ).parquet(os.path.join(args.output, "layouts_pdf"))

    # summary counters from the just-written metrics table — re-aggregating
    # `final` would replay the dedup window over the whole extracted table
    # a third time for numbers the metrics sink already holds
    mrow = (
        spark.read.parquet(os.path.join(args.output, "metrics"))
        .agg({"n_docs": "sum", "n_pages": "sum"})
        .collect()[0]
    )
    n = int(mrow["sum(n_docs)"] or 0)
    pages = int(mrow["sum(n_pages)"] or 0)
    dt = time.time() - t0
    print(f"extracted {n} docs / {pages} pages in {dt:.1f}s ({pages / dt:.1f} pages/s)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
