"""Streaming quality-classifier scoring — the steady-state crawl shape
(batch analog: operators/traindata.clf_scores).

Each micro-batch of newly crawled documents is scored against the
MATERIALIZED trained weight table (``clf_fit/`` from
jobs/run_corpus_pipeline.py — an m-row parquet artifact refreshed only
when the model is retrained; at deployable dims still megabytes).  Same
division of labor as contamination_stream / semantic_stream: the state
is the STATIC model table, never stream state, so memory does not grow
with the stream; streaming/probe.run_probe_stream writes idempotent
``batch=<id>`` parquet partitions.

Each micro-batch is scored by the batch op itself, clf_scores(fit=),
which reads only doc_id and text — a stream carries no lang label.  The
stream==batch parity test pins that a micro-batched corpus scores
bit-identically to one clf_scores() pass over the same rows."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from deepseek_ocr_spark.operators.traindata import CLF_BUCKETS, clf_scores
from deepseek_ocr_spark.streaming.probe import STREAM_DOCS_SCHEMA, run_probe_stream


def clf_score_batch(
    batch: DataFrame, weights: DataFrame, n_buckets: int = CLF_BUCKETS
) -> DataFrame:
    """One micro-batch → (doc_id, n_feats, clf_score) through the
    broadcast m-row weight table: the batch op itself, traindata.clf_scores
    with ``fit=`` (scoring reads only doc_id and text)."""
    return clf_scores(batch, n_buckets=n_buckets, fit=weights)


def stream_clf_scores_to_parquet(
    spark: SparkSession,
    input_dir: str,
    clf_fit_path: str,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = CLF_BUCKETS,
    max_files_per_trigger: int = 1,
):
    """File-source stream of (doc_id, warc_ts, text) parquet → per-doc
    trained-quality scores, one batch=<id> partition per trigger
    (idempotent under replay).  Returns the StreamingQuery."""
    # materialize the model ONCE via eager localCheckpoint — NOT
    # persist() (per-call cache-entry leak, see neardup_stream)
    weights = spark.read.parquet(clf_fit_path).localCheckpoint(eager=True)
    return run_probe_stream(
        spark,
        STREAM_DOCS_SCHEMA,
        input_dir,
        output_dir,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch: clf_score_batch(batch, weights, n_buckets),
    )
