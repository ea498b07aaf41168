"""The one runner behind every stream-static probe (near-dup, spans,
contamination, classifier scoring, semantic dedup).

Each probe filters or scores new data against a STATIC materialized
artifact (band table, digest table, model, corpus index) that its caller
loads and checkpoints ONCE at stream start — re-scanning a 100 TB
seen-set every micro-batch would dominate the job.  State is that static
table, never stream state, so memory does not grow with the stream.
``foreachBatch`` gives the full batch join/agg API per trigger.

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

STREAM_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def run_probe_stream(
    spark: SparkSession,
    schema: T.StructType,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    probe: Callable[[DataFrame], DataFrame],
):
    """File-source stream of ``schema`` parquet → ``probe(batch)`` written
    to one ``batch=<id>`` partition per trigger (idempotent under replay),
    drained with availableNow.  Returns the StreamingQuery."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        probe(batch).write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
