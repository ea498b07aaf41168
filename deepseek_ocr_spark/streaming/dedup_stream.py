"""Streaming exact deduplication — the first stage any streaming web-corpus
ingest needs (SURVEY.md §2.9; batch analog operators/dedup.dedup_exact).

``dropDuplicates`` over (text_hash) with a watermark on the event-time
column: state holds one md5 per distinct document seen within the watermark
horizon, so memory is bounded by the distinct count per horizon, not the
stream length. Exactly the first-wins semantics of the batch exact dedup:
a re-crawled duplicate url/body arriving in a later micro-batch is dropped
by state lookup instead of a corpus-wide shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_spark.sources.catalog import DOCS_SCHEMA
from deepseek_ocr_spark.streaming.probe import read_file_stream


def dedup_stream(docs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """stream of documents → stream with exact-duplicate bodies dropped
    (first occurrence wins; duplicates within the watermark horizon)."""
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicates(["text_hash"])
    )


def stream_dedup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    watermark: str = "1 hour",
):
    src = read_file_stream(spark, DOCS_SCHEMA, input_dir, max_files_per_trigger)
    return (
        dedup_stream(src, watermark)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
