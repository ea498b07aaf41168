"""Streaming SEMANTIC dedup probe — the embedding analog of the near-dup
stream (batch analog: operators/similarity.dedup_semantic).

Each micro-batch of freshly embedded documents probes the MATERIALIZED
corpus index: vectors are assigned to their centroid bucket (broadcast
codebook, map-side — a pure function of the embedding, so a duplicate of
a corpus vector always lands in its bucket), joined against the corpus
vectors of that bucket only, and any new vector whose rounded cosine to
an existing corpus vector reaches the threshold is dropped as a semantic
duplicate of the corpus. Survivors append to the output sink.

Same division of labor as neardup_stream: the stream filters new data
against the STATIC corpus (state = the materialized (vec_id, centroid_id,
embedding) table, not stream state); duplicates WITHIN one micro-batch
are the nightly batch job's task (dedup_semantic over the compacted
corpus). Replay-safe batch=<id> parquet appends through
streaming/probe.run_probe_stream; the corpus table is loaded and
checkpointed ONCE at stream start.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.operators.similarity import (
    N_CENTROIDS,
    SEMDEDUP_THRESHOLD,
    _bucket_pairs,
    ivf_assignments,
)
from deepseek_ocr_spark.streaming.probe import run_probe_stream

STREAM_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def corpus_semantic_index(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, dim: int = 64
) -> DataFrame:
    """(vec_id, centroid_id, embedding) — the materializable corpus side
    of the probe (at 100 TB: parquet partitioned by centroid_id, so each
    micro-batch's probe prunes to its buckets)."""
    return ivf_assignments(emb, n_centroids, dim).join(emb, "vec_id").select(
        "vec_id", "centroid_id", "embedding"
    )


def semantic_filter_batch(
    batch: DataFrame,
    corpus_index: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
) -> DataFrame:
    """One micro-batch of (vec_id, embedding) → the subset with no
    corpus-side semantic duplicate (rounded cosine ≥ threshold within the
    vector's own centroid bucket), scored by the batch operators' salted
    cogroup (similarity._bucket_pairs, threshold mode) with the
    micro-batch as the replicated side. Embeddings must have exactly
    ``dim`` elements."""
    probe = ivf_assignments(batch, n_centroids, dim).join(batch, "vec_id")
    dup_ids = (
        _bucket_pairs(
            probe.select("vec_id", "centroid_id", F.col("embedding").alias("qe")),
            corpus_index.select(
                F.col("vec_id").alias("cand_id"),
                "centroid_id",
                F.col("embedding").alias("ce"),
            ),
            n_centroids,
            dim,
            threshold=threshold,
            replicate="left",
        )
        .filter(F.round(F.col("cos"), 4) >= threshold)
        .select("vec_id")
        .distinct()
    )
    return batch.join(dup_ids, "vec_id", "left_anti")


def stream_semantic_to_parquet(
    spark: SparkSession,
    input_dir: str,
    corpus_index_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
):
    """File-source stream of (vec_id, embedding) parquet → semantically
    deduplicated parquet, one batch=<id> partition per trigger (idempotent
    under replay). Returns the StreamingQuery."""
    corpus_index = (
        spark.read.parquet(corpus_index_path).localCheckpoint(eager=True)
    )
    return run_probe_stream(
        spark,
        STREAM_EMB_SCHEMA,
        input_dir,
        output_dir,
        checkpoint_dir,
        max_files_per_trigger,
        lambda batch: semantic_filter_batch(
            batch, corpus_index, threshold, n_centroids, dim
        ),
    )
