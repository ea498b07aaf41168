"""Resumable checkpointing + lineage (north_rule requirement; SURVEY.md §4.3-4.4).

The reference has no resume story (a killed run re-OCRs everything); this is
new engineering mandated by the north_rule: a record of completed work,
restart = left-anti join, idempotent replay.

Model:
- each run appends ``extracted`` rows (tagged with ``partition_id``,
  ``attempt`` and ``completed_ts``; no directory partitioning) in one Spark
  job. That job's commit is the unit of atomicity, so the committed
  ``extracted`` table IS the record of completed work: a url whose row is
  visible there is done;
- on restart, ``pending = docs.join(extracted.select('url'), 'url',
  'left_anti')`` — only unfinished urls are reprocessed (the anti-join is
  the O-22 note in SURVEY.md §2.4; the parquet scan reads the url column
  only);
- replay is idempotent because the kernel is deterministic: a url processed
  twice produces the same digest, and readers dedupe by
  ``row_number() over (partition by url order by completed_ts desc) = 1``.

On a real cluster this maps to Iceberg snapshot/WAP semantics; in the
sandbox it is plain Parquet appends (atomic per Spark job commit).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deepseek_ocr_spark.config import EngineConfig
from deepseek_ocr_spark.pipeline.extract_job import extract_documents


def extracted_path(base: str) -> str:
    return os.path.join(base, "extracted")


def pending_documents(docs: DataFrame, base: str) -> DataFrame:
    """Restart filter: drop urls already committed to ``extracted``
    (left-anti join). A missing ``extracted`` directory, or one that holds
    no committed parquet (the first write crashed mid-commit), means nothing
    is committed; any other read error — a corrupt file, say — propagates
    rather than silently reprocessing the full corpus."""
    from pyspark.errors import AnalysisException

    try:
        done = docs.sparkSession.read.parquet(extracted_path(base)).select("url")
    except AnalysisException as exc:
        if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return docs
        raise
    return docs.join(done, "url", "left_anti")


def commit_run(extracted: DataFrame, base: str, attempt: int = 0) -> None:
    """Append results in one Spark job. Its commit is the unit of
    atomicity, and the committed rows are the resume record that
    ``pending_documents`` reads."""
    out = (
        extracted.withColumn("partition_id", F.spark_partition_id())
        .withColumn("attempt", F.lit(attempt))
        .withColumn("completed_ts", F.current_timestamp())
    )
    out.write.mode("append").parquet(extracted_path(base))


def commit_pending(
    docs: DataFrame, base: str, cfg: EngineConfig, attempt: int = 0
) -> None:
    """Extract and commit only the ``docs`` whose urls are not yet in
    ``extracted`` — the resume step of ``run_extract --resume`` and of
    every stream micro-batch.  Nothing pending commits nothing, so a
    no-op resume or a replayed batch appends no empty part file — except
    on a base with nothing committed yet (``pending_documents`` returns
    ``docs`` itself), where the first append, even of 0 rows, creates the
    ``extracted`` table the readers need."""
    pending = pending_documents(docs, base)
    if pending is not docs and pending.isEmpty():
        return
    commit_run(extract_documents(pending, cfg), base, attempt)


def read_extracted_deduped(spark: SparkSession, base: str) -> DataFrame:
    """Reader-side dedupe: latest attempt per url wins."""
    df = spark.read.parquet(extracted_path(base))
    win = Window.partitionBy("url").orderBy(
        F.col("completed_ts").desc(), F.col("attempt").desc()
    )
    return df.withColumn("_rn", F.row_number().over(win)).filter(F.col("_rn") == 1).drop("_rn")
