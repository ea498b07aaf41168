"""Streaming benchmark decontamination — the steady-state crawl shape
(batch analog: operators/traindata.contamination_flags).

Each micro-batch of newly crawled documents is probed against the
MATERIALIZED benchmark n-gram digest table (built once from the held-out
benchmark set — at 100 TB a small parquet artifact refreshed only when
benchmarks change); a doc sharing any word 3-gram with a benchmark is
flagged with its distinct-hit count.  Same division of labor as
neardup_stream: the state is the STATIC digest table (bytes-sized —
benchmarks are small by construction), never stream state, so memory
does not grow with the stream; streaming/probe.run_probe_stream writes
idempotent ``batch=<id>`` parquet partitions.

The gram digests are operators/digests.window_digests(h, NGRAM_N,
GRAM_STEP) over a hoisted token_hashes column — the batch op's exact
digest, so the O(n²) inline-transform rule documented there applies
here too."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_spark.operators.digests import token_hashes, window_digests
from deepseek_ocr_spark.operators.traindata import BENCH_MOD, GRAM_STEP, NGRAM_N
from deepseek_ocr_spark.streaming.probe import STREAM_DOCS_SCHEMA, run_probe_stream


def benchmark_gram_table(docs: DataFrame, bench_mod: int = BENCH_MOD) -> DataFrame:
    """(g) distinct 3-gram digests of the held-out benchmark docs
    (doc_id % bench_mod == 0) — the static artifact the stream probes.
    Map-side digests, one distinct exchange."""
    hdf = docs.filter(F.col("doc_id") % bench_mod == 0).select(
        "doc_id", token_hashes().alias("h")
    )
    grams = window_digests(F.col("h"), NGRAM_N, GRAM_STEP)
    return hdf.select(F.explode(grams).alias("g")).distinct()


def contamination_probe_batch(batch: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """One micro-batch → (doc_id, n_hits, contaminated) for EVERY batch
    doc (clean docs report 0/false).  The benchmark table is broadcast —
    it is small by construction — so the probe adds no batch shuffle
    beyond the per-doc count agg."""
    hdf = batch.select("doc_id", token_hashes().alias("h"))
    grams = hdf.select(
        "doc_id", F.explode(window_digests(F.col("h"), NGRAM_N, GRAM_STEP)).alias("g")
    )
    hits = (
        grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def stream_contamination_to_parquet(
    spark: SparkSession,
    input_dir: str,
    bench_grams_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """File-source stream of (doc_id, warc_ts, text) parquet →
    per-doc contamination flags, one batch=<id> partition per trigger
    (idempotent under replay).  Returns the StreamingQuery."""
    # materialize the digest set ONCE via eager localCheckpoint — NOT
    # persist() (per-call cache-entry leak, see neardup_stream)
    bench = (
        spark.read.parquet(bench_grams_path).select("g").distinct()
        .localCheckpoint(eager=True)
    )
    return run_probe_stream(
        spark,
        STREAM_DOCS_SCHEMA,
        input_dir,
        output_dir,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch: contamination_probe_batch(batch, bench),
    )
