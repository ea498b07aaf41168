"""The one runner behind every stream-static probe, and the one
file-source reader (``read_file_stream``) every streaming job shares.

Each probe runs a BATCH operator on every micro-batch against a STATIC
materialized artifact, with the same stream==batch answer as one batch
pass over the same rows (test-pinned):

- near-dup:       dedup.band_collisions vs the corpus band table
                  (batch analog dedup.dedup_incremental);
- spans:          dedup.dedup_spans vs the duplicated-window digest table
                  (dedup.dup_window_table);
- contamination:  traindata.contamination_flags vs the benchmark gram
                  table (traindata.benchmark_gram_table);
- classifier:     traindata.clf_scores vs the fitted weight table
                  (traindata.clf_fit);
- semantic:       similarity.semantic_filter_batch vs the corpus index
                  (similarity.corpus_semantic_index).

``run_probe_stream`` reads the artifact and checkpoints it ONCE at stream
start — re-scanning a 100 TB seen-set every micro-batch would dominate the
job.  State is that static table, never stream state, so memory does not
grow with the stream.  Rows inside one micro-batch are not probed against
each other: that is the nightly batch job's task, the same division of
labor as the reference pipeline's daily increment.

Replay safety: each micro-batch writes to its own ``batch=<id>``
subdirectory with overwrite mode, so a batch replayed after a crash
between the parquet write and the streaming checkpoint commit simply
overwrites its own output — effective exactly-once for downstream readers
of the root path (who see batch= as a partition column).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from deepseek_ocr_spark.operators import dedup, similarity, traindata

STREAM_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)

STREAM_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def read_file_stream(
    spark: SparkSession,
    schema: T.StructType,
    input_dir: str,
    max_files_per_trigger: int,
) -> DataFrame:
    """The file-source stream every streaming job reads: ``schema`` parquet
    files under ``input_dir``, at most ``max_files_per_trigger`` files per
    micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_file_stream(
    spark: SparkSession,
    schema: T.StructType,
    input_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    handle: Callable[[DataFrame, int], None],
):
    """File-source stream of ``schema`` parquet → ``handle(batch, batch_id)``
    per trigger (``foreachBatch``), checkpointed at ``checkpoint_dir`` and
    drained with availableNow.  Returns the StreamingQuery."""
    return (
        read_file_stream(spark, schema, input_dir, max_files_per_trigger)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_probe_stream(
    spark: SparkSession,
    schema: T.StructType,
    input_dir: str,
    artifact_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    probe: Callable[[DataFrame, DataFrame], DataFrame],
):
    """``probe(batch, artifact)`` per micro-batch, where ``artifact`` is
    the parquet at ``artifact_path``, written to one ``batch=<id>``
    partition per trigger (idempotent under replay).  Returns the
    StreamingQuery."""
    # eager localCheckpoint, NOT persist(): repeated streams in one session
    # would accumulate cache entries that nothing unpersists (the leak
    # ann_ivf_topk_indexed avoids); a checkpointed RDD is reclaimed by the
    # ContextCleaner once the query drops the DataFrame
    artifact = spark.read.parquet(artifact_path).localCheckpoint(eager=True)

    def handle(batch: DataFrame, batch_id: int) -> None:
        probe(batch, artifact).write.mode("overwrite").parquet(
            f"{output_dir}/batch={batch_id}"
        )

    return run_file_stream(
        spark, schema, input_dir, checkpoint_dir, max_files_per_trigger, handle
    )


def stream_neardup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    corpus_bands_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    n_hashes: int = dedup.N_MINHASHES,
    n_bands: int = dedup.N_BANDS,
):
    """(doc_id, warc_ts, text) stream → the docs with no band collision
    against the corpus band table.  A doc too short to shingle has no
    bands and always survives."""
    return run_probe_stream(
        spark, STREAM_DOCS_SCHEMA, input_dir, corpus_bands_path, output_dir,
        checkpoint_dir, max_files_per_trigger,
        lambda batch, bands: batch.join(
            dedup.band_collisions(batch, bands, n_hashes, n_bands),
            "doc_id",
            "left_anti",
        ),
    )


def stream_spans_to_parquet(
    spark: SparkSession,
    input_dir: str,
    dup_digests_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    w: int = dedup.SPAN_W,
):
    """(doc_id, warc_ts, text) stream → per-doc duplicated spans
    (doc_id, span_start, span_end, n_windows) against the corpus
    duplicated-window digest table."""
    return run_probe_stream(
        spark, STREAM_DOCS_SCHEMA, input_dir, dup_digests_path, output_dir,
        checkpoint_dir, max_files_per_trigger,
        lambda batch, dup: dedup.dedup_spans(batch, w, dup_table=dup),
    )


def stream_contamination_to_parquet(
    spark: SparkSession,
    input_dir: str,
    bench_grams_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """(doc_id, warc_ts, text) stream → (doc_id, n_hits, contaminated)
    for every streamed doc against the benchmark gram table."""
    return run_probe_stream(
        spark, STREAM_DOCS_SCHEMA, input_dir, bench_grams_path, output_dir,
        checkpoint_dir, max_files_per_trigger,
        lambda batch, grams: traindata.contamination_flags(batch, bench_grams=grams),
    )


def stream_clf_scores_to_parquet(
    spark: SparkSession,
    input_dir: str,
    clf_fit_path: str,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = traindata.CLF_BUCKETS,
    max_files_per_trigger: int = 1,
):
    """(doc_id, warc_ts, text) stream → (doc_id, n_feats, clf_score)
    through the fitted weight table (scoring reads no lang label)."""
    return run_probe_stream(
        spark, STREAM_DOCS_SCHEMA, input_dir, clf_fit_path, output_dir,
        checkpoint_dir, max_files_per_trigger,
        lambda batch, fit: traindata.clf_scores(batch, n_buckets=n_buckets, fit=fit),
    )


def stream_semantic_to_parquet(
    spark: SparkSession,
    input_dir: str,
    corpus_index_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    threshold: float = similarity.SEMDEDUP_THRESHOLD,
    n_centroids: int = similarity.N_CENTROIDS,
    dim: int = 64,
):
    """(vec_id, embedding) stream → the vectors with no semantic duplicate
    in the corpus index."""
    return run_probe_stream(
        spark, STREAM_EMB_SCHEMA, input_dir, corpus_index_path, output_dir,
        checkpoint_dir, max_files_per_trigger,
        lambda batch, index: similarity.semantic_filter_batch(
            batch, index, threshold, n_centroids, dim
        ),
    )
