"""Streaming substring-dedup probe — the steady-state crawl shape
(batch analog: operators/dedup.dedup_spans).

Each micro-batch of newly crawled documents has its w-token window
digests probed against the MATERIALIZED duplicated-window digest table
(operators/dedup.dup_window_table — at 100 TB a parquet/Iceberg artifact
refreshed by the nightly span-dedup job, the exact analog of band_table
for near-dup); flagged windows merge to per-doc spans with the SAME
gaps-and-islands kernel the batch op uses.  State is the static digest
table, never stream state; streaming/probe.run_probe_stream writes
idempotent ``batch=<id>`` parquet partitions.

Same division of labor as neardup_stream: windows duplicated only
WITHIN the increment are the nightly batch job's task, not the probe's."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from deepseek_ocr_spark.operators.dedup import (
    SPAN_W,
    _flagged_windows_to_spans,
    span_windows,
)
from deepseek_ocr_spark.streaming.probe import STREAM_DOCS_SCHEMA, run_probe_stream


def span_probe_batch(
    batch: DataFrame, dup_digests: DataFrame, w: int = SPAN_W
) -> DataFrame:
    """One micro-batch → (doc_id, span_start, span_end, n_windows) for
    batch docs whose windows hit the corpus duplicated-digest table."""
    flagged = span_windows(batch, w).join(
        dup_digests.select("g"), "g", "left_semi"
    )
    return _flagged_windows_to_spans(flagged, w)


def stream_spans_to_parquet(
    spark: SparkSession,
    input_dir: str,
    dup_digests_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    w: int = SPAN_W,
):
    """File-source stream of (doc_id, warc_ts, text) parquet → per-doc
    duplicated spans, one batch=<id> partition per trigger (idempotent
    under replay).  Returns the StreamingQuery."""
    # materialize the digest set ONCE via eager localCheckpoint — NOT
    # persist() (per-call cache-entry leak, see neardup_stream)
    dup = (
        spark.read.parquet(dup_digests_path).select("g").distinct()
        .localCheckpoint(eager=True)
    )
    return run_probe_stream(
        spark,
        STREAM_DOCS_SCHEMA,
        input_dir,
        output_dir,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch: span_probe_batch(batch, dup, w),
    )
