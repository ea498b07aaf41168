"""Per-partition metrics / compression accounting (SURVEY.md O-25, FIXTURES.md §2).

The reference's only metric surface is PRINT_NUM_VIS_TOKENS / the paper's
compression-ratio claim (config.py:15, R:37-38); the north_rule upgrades it
to a first-class per-partition metrics table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_bucket_col(n_pages) -> F.Column:
    """Doc size classes mirroring the corpus skew (FIXTURES.md §1)."""
    return (
        F.when(n_pages <= 1, "small")
        .when(n_pages <= 4, "medium")
        .when(n_pages <= 12, "large")
        .otherwise("oversized")
    )


def metrics_table(extracted: DataFrame) -> DataFrame:
    """extracted → metrics(bucket, n_docs, n_pages, vision_tokens,
    text_tokens, avg_compression_ratio)."""
    return (
        extracted.withColumn("bucket", size_bucket_col(F.col("n_pages")))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pages").cast("bigint").alias("n_pages"),
            F.sum("n_vision_tokens").cast("bigint").alias("vision_tokens"),
            F.sum("n_text_tokens").cast("bigint").alias("text_tokens"),
            F.avg("compression_ratio").alias("avg_compression_ratio"),
        )
    )


def region_images_table(extracted: DataFrame) -> DataFrame:
    """O-6 analog: the cropped-figure side output — one row per
    ``<|ref|>image<|/ref|>`` span with pixel-rescaled crop box (O-32),
    keyed (url, page_no, ord) like ``{page}_{idx}.jpg`` in the reference
    (image.py:105-112). JPEG bytes are not materialized (codecs stubbed in
    this sandbox; the crop box + key is the relational content)."""
    spans = extracted.select("url", F.explode("spans").alias("s"))
    return spans.filter(F.col("s.label") == "image").select(
        "url",
        F.col("s.page_no").alias("page_no"),
        F.col("s.ord").alias("ord"),
        F.col("s.px1").alias("px1"),
        F.col("s.py1").alias("py1"),
        F.col("s.px2").alias("px2"),
        F.col("s.py2").alias("py2"),
    )


def lineage_table(extracted: DataFrame) -> DataFrame:
    """extracted → lineage(url, partition_id, digest) (FIXTURES.md §2).

    ``partition_id`` must be the id of the extraction task that PRODUCED the
    row (written by checkpoint.commit_run), not the scan partition of
    whoever happens to read the table later — so the persisted column is
    required; recomputing ``spark_partition_id()`` here would record the
    reader's layout instead of the producer's."""
    if "partition_id" not in extracted.columns:
        raise ValueError(
            "lineage_table requires the persisted partition_id column "
            "(run checkpoint.commit_run first)"
        )
    return extracted.select("url", "partition_id", "digest")
