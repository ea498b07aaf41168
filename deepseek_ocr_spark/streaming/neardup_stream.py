"""Streaming incremental NEAR-dup filtering — the steady-state crawl shape
(batch analog: operators/dedup.dedup_incremental).

Each micro-batch of newly crawled documents is probed against the
MATERIALIZED corpus band table (operators/dedup.band_table — at 100 TB a
parquet/Iceberg table bucketed by band, refreshed by the nightly compaction
job) via a band-collision semi-join; colliding docs are near-duplicates of
something already in the corpus and are dropped, the rest append to the
output sink. ``foreachBatch`` is the right tool: the probe is a
stream-static join PLUS a per-batch distinct, and foreachBatch gives the
full batch API per trigger with exactly-once parquet appends (same pattern
as streaming/stream_job.py). State is the STATIC band table, not stream
state — memory does not grow with the stream.

Semantics match the batch job: a doc with no shingles (too short) has no
bands and always survives; first-wins WITHIN the corpus, but docs inside
the same micro-batch are not paired against each other (that is the
nightly batch job's task — same division of labor as the reference
pipeline's daily increment).

The distinct band set is computed and checkpointed ONCE at stream start;
replay safety is streaming/probe.run_probe_stream's ``batch=<id>``
overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from deepseek_ocr_spark.operators.dedup import N_BANDS, N_MINHASHES, band_table
from deepseek_ocr_spark.streaming.probe import STREAM_DOCS_SCHEMA, run_probe_stream


def neardup_filter_batch(
    batch: DataFrame,
    corpus_bands: DataFrame,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """One micro-batch of docs → the subset with NO band collision against
    the corpus band table (shared by the streaming sink and its test).
    Pass an already-distinct/cached band set from the caller when probing
    repeatedly — this function distincts defensively but cannot cache."""
    seen = (
        band_table(batch, n_hashes, n_bands)
        .join(corpus_bands.select("band").distinct(), "band", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return batch.join(seen, "doc_id", "left_anti")


def stream_neardup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    corpus_bands_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
):
    """File-source stream of (doc_id, warc_ts, text) parquet → near-dup-
    filtered parquet, one batch=<id> partition per trigger (idempotent
    under replay). Returns the StreamingQuery."""
    # distinct ONCE, materialized via eager localCheckpoint — NOT persist():
    # repeated invocations in one session would accumulate cache entries
    # that nothing unpersists, the exact leak ann_ivf_topk_indexed avoids;
    # checkpointed RDDs are GC-reclaimed by the ContextCleaner when the
    # returned DataFrame goes out of scope
    bands_distinct = (
        spark.read.parquet(corpus_bands_path).select("band").distinct()
        .localCheckpoint(eager=True)
    )
    return run_probe_stream(
        spark,
        STREAM_DOCS_SCHEMA,
        input_dir,
        output_dir,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch: neardup_filter_batch(batch, bands_distinct, n_hashes, n_bands),
    )
