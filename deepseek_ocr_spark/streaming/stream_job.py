"""Streaming extraction (SURVEY.md §2.9 / O-38 async variant).

The reference's streaming surface is the AsyncLLMEngine incremental decode
(run_dpsk_ocr_image.py:150-196). The tabular analog: the SAME batch plan run
incrementally over a document stream via ``readStream`` + ``foreachBatch``,
which directly provides the north_rule checkpoint/replay semantics
(checkpointLocation + idempotent per-batch commits — a failed batch replays
and its already-committed urls anti-join away).

``foreachBatch`` (rather than a fully-declarative streaming plan) because
each micro-batch first anti-joins against the urls already committed to
``extracted`` (``checkpoint.pending_documents``), a read of the sink's own
table that a streaming sink cannot express; the commit itself is one
append, skipped when nothing is pending (``checkpoint.commit_pending``,
shared with ``run_extract --resume``). The extraction plan itself is
stateless (scan → one MapInArrow → final rows, no aggregation). Late data /
event-time windows are N/A: warc_ts is data, not processing time
(SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from deepseek_ocr_spark.config import DEFAULT_CONFIG, EngineConfig
from deepseek_ocr_spark.pipeline import checkpoint as ckpt
from deepseek_ocr_spark.sources.catalog import DOCS_SCHEMA
from deepseek_ocr_spark.streaming.probe import run_file_stream


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_base: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int = 4,
):
    """readStream(parquet dir of documents) → extraction plan per micro-batch
    → checkpointed, idempotent appends. Returns the StreamingQuery."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent replay: a re-delivered batch anti-joins to nothing
        ckpt.commit_pending(batch_df, output_base, cfg, attempt=int(batch_id))

    return run_file_stream(
        spark, DOCS_SCHEMA, input_dir, checkpoint_dir, max_files_per_trigger,
        process_batch,
    )
