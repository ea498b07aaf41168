"""Event-time windowed streaming aggregation (watermark + tumbling window).

The extraction pipeline itself has no event-time semantics (warc_ts is data,
SURVEY.md §2.9), but the engine ships the standard late-data-tolerant
windowed rollup for its metrics/event streams: tumbling 1-hour windows over
``ts`` with a configurable watermark, append-mode output. With
``availableNow`` over a static directory the result equals the batch
``events_hourly`` rollup — which is how it is tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.streaming.probe import read_file_stream

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming-safe plan: watermark → tumbling window → count/sum."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_events_hourly(
    spark: SparkSession,
    events_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    watermark: str = "2 hours",
):
    """NB: rows later than ``watermark`` behind the max seen event time are
    DROPPED by design (late-data policy). Replaying unordered historical
    files therefore needs a watermark larger than the files' time disorder —
    that's the knob, not a bug (observed: a 2h watermark over randomly-
    partitioned history silently dropped most rows)."""
    stream = read_file_stream(spark, EVENTS_SCHEMA, events_dir, max_files_per_trigger)
    windowed = windowed_event_counts(stream, watermark)
    return (
        windowed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_events_hourly_complete(
    spark: SparkSession,
    events_dir: str,
    table_name: str,
    max_files_per_trigger: int = 2,
    watermark: str = "2 hours",
):
    """Complete-mode variant (in-memory sink): every window re-emitted each
    trigger, so the final table equals the batch rollup regardless of
    arrival order — the correctness harness for the windowed plan. Append
    mode (above) is the production shape; its watermark governs what has
    been finalized at any point in the stream."""
    stream = read_file_stream(spark, EVENTS_SCHEMA, events_dir, max_files_per_trigger)
    return (
        windowed_event_counts(stream, watermark)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_view_click_join(
    views: DataFrame, clicks: DataFrame, within_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join (§2.9 completeness): each 'click' event
    matched to 'view' events of the same user within the preceding
    ``within_minutes``. Both sides carry watermarks so the state store can
    evict rows once no counterpart can arrive — the join condition's time
    bound plus the watermark define exactly how long each side is retained
    (Spark derives the state TTL from them; an unbounded-time stream join
    would grow state forever)."""
    v = (
        views.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {within_minutes} MINUTES"))
    )
    return v.join(c, cond).select(
        F.col("c_user").alias("user_id"), "view_id", "click_id", "v_ts", "c_ts"
    )
