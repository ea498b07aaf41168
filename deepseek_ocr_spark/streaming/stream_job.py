"""Streaming extraction (SURVEY.md §2.9 / O-38 async variant).

The reference's streaming surface is the AsyncLLMEngine incremental decode
(run_dpsk_ocr_image.py:150-196). The tabular analog: the SAME batch plan run
incrementally over a document stream via ``readStream`` + ``foreachBatch``,
which directly provides the north_rule checkpoint/replay semantics
(checkpointLocation + idempotent per-batch manifest commits — a failed batch
replays, the manifest dedupes).

``foreachBatch`` (rather than a fully-declarative streaming plan) because
each micro-batch commits with ``checkpoint.commit_run``: two writes (the
extracted rows, then the manifest) of one persisted result, which a single
streaming sink cannot express. The extraction plan itself is stateless
(scan → one MapInPandas → final rows, no aggregation). Late data /
event-time windows are N/A: warc_ts is data, not processing time
(SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from deepseek_ocr_spark.config import DEFAULT_CONFIG, EngineConfig
from deepseek_ocr_spark.pipeline import checkpoint as ckpt
from deepseek_ocr_spark.pipeline.extract_job import extract_documents
from deepseek_ocr_spark.sources.catalog import DOCS_SCHEMA


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
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent replay: a re-delivered batch anti-joins to nothing
        pending = ckpt.pending_documents(batch_df, output_base)
        if pending.isEmpty():
            return
        extracted = extract_documents(pending, cfg)
        ckpt.commit_run(extracted, output_base, attempt=int(batch_id))

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
