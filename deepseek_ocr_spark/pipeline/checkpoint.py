"""Resumable checkpointing + lineage (north_rule requirement; SURVEY.md §4.3-4.4).

The reference has no resume story (a killed run re-OCRs everything); this is
new engineering mandated by the north_rule: a manifest table of completed
work, restart = left-anti join, idempotent replay.

Model:
- each run appends ``extracted`` rows (tagged with ``partition_id``,
  ``attempt`` and ``completed_ts``; no directory partitioning) and appends
  a manifest of ``(url, digest, partition_id, attempt, completed_ts)``;
- on restart, ``pending = docs.join(manifest, 'url', 'left_anti')`` — only
  unfinished urls are reprocessed (the anti-join is the O-22 note in
  SURVEY.md §2.4);
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


def manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def extracted_path(base: str) -> str:
    return os.path.join(base, "extracted")


def read_manifest(spark: SparkSession, base: str) -> DataFrame | None:
    """None only when no manifest EXISTS yet — a corrupt/unreadable manifest
    must propagate, not silently disable resume (which would reprocess the
    full corpus and append duplicates)."""
    from pyspark.errors import AnalysisException

    p = manifest_path(base)
    try:
        return spark.read.parquet(p)
    except AnalysisException as exc:
        cond = exc.getCondition() if hasattr(exc, "getCondition") else None
        # PATH_NOT_FOUND: no manifest yet. UNABLE_TO_INFER_SCHEMA: the dir
        # exists but holds no committed parquet (manifest write crashed
        # mid-commit) — also "no manifest", and reprocessing is safe because
        # read_extracted_deduped dedupes replays.
        if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def pending_documents(docs: DataFrame, base: str) -> DataFrame:
    """Restart filter: drop urls already in the manifest (left-anti join)."""
    manifest = read_manifest(docs.sparkSession, base)
    if manifest is None:
        return docs
    return docs.join(manifest.select("url"), "url", "left_anti")


def commit_run(extracted: DataFrame, base: str, attempt: int = 0) -> None:
    """Append results + manifest. Job-level atomicity: the manifest append
    happens only after the extracted append commits, so a crash between the
    two re-runs those urls (idempotent — same bytes, deduped on read)."""
    out = extracted.withColumn("partition_id", F.spark_partition_id()).withColumn(
        "attempt", F.lit(attempt)
    ).withColumn("completed_ts", F.current_timestamp())
    # persist: without it the manifest append would RE-RUN the whole
    # extraction pipeline (uncached lineage) — 2x wall clock — and evaluate
    # current_timestamp()/partition ids independently of the extracted rows
    out = out.persist()
    try:
        out.write.mode("append").parquet(extracted_path(base))
        out.select(
            "url", "digest", "partition_id", "attempt", "completed_ts"
        ).write.mode("append").parquet(manifest_path(base))
    finally:
        out.unpersist()


def read_extracted_deduped(spark: SparkSession, base: str) -> DataFrame:
    """Reader-side dedupe: latest attempt per url wins."""
    df = spark.read.parquet(extracted_path(base))
    win = Window.partitionBy("url").orderBy(
        F.col("completed_ts").desc(), F.col("attempt").desc()
    )
    return df.withColumn("_rn", F.row_number().over(win)).filter(F.col("_rn") == 1).drop("_rn")
