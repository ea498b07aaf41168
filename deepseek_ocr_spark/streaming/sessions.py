"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (SURVEY.md §2.9 — the "custom stateful operator"
tier the task calls for beyond watermarked windows).

Semantics match the batch ``operators.temporal.sessionize`` exactly: a
session breaks when the gap to the user's previous event exceeds
``gap_minutes``. A session is EMITTED when

- a new event for the user arrives more than ``gap`` after the session's
  last event (the session provably closed), or
- the event-time watermark passes session_end + gap (EventTimeTimeout — no
  further event can extend it, by the watermark contract).

State per user is three integers (start_us, end_us, n) — bounded, no event
buffering; micro-batch rows are folded into it in event-time order. This is
the 100 TB shape: state size is O(users), not O(events), and the state
store shards by the group key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from deepseek_ocr_spark.operators.temporal import SESSION_GAP_MINUTES
from deepseek_ocr_spark.streaming.probe import read_file_stream
from deepseek_ocr_spark.streaming.windowed import EVENTS_SCHEMA

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("duration_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _session_row(user_id: int, start_us: int, end_us: int, n: int) -> dict:
    return {
        "user_id": user_id,
        "session_start": pd.Timestamp(start_us, unit="us"),
        "session_end": pd.Timestamp(end_us, unit="us"),
        "n_events": n,
        "duration_us": end_us - start_us,
    }


def make_sessionize_func(gap_minutes: int = SESSION_GAP_MINUTES):
    gap_us = gap_minutes * 60 * 1_000_000

    def sessionize_func(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame([_session_row(user_id, start_us, end_us, n)])
            return

        ts_us: list[int] = []
        for pdf in pdfs:
            # normalize explicitly: Arrow hands the column over as
            # datetime64[ns], whose raw int64 view is NANOseconds
            ts_us.extend(
                int(v) for v in pdf["ts"].astype("datetime64[us]").astype("int64")
            )
        ts_us.sort()

        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us = end_us = -1
            n = 0

        closed: list[dict] = []
        for t in ts_us:
            if n == 0:
                start_us, end_us, n = t, t, 1
            elif t - end_us > gap_us:
                closed.append(_session_row(user_id, start_us, end_us, n))
                start_us, end_us, n = t, t, 1
            else:
                end_us, n = max(end_us, t), n + 1

        if n > 0:
            state.update((start_us, end_us, n))
            # no event can extend the session once the watermark passes
            # end + gap (timeout timestamp is in MILLIseconds)
            state.setTimeoutTimestamp((end_us + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(closed)

    return sessionize_func


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    gap_minutes: int = SESSION_GAP_MINUTES,
    watermark: str = "0 seconds",
    max_files_per_trigger: int = 2,
):
    """File-source stream → closed sessions appended to parquet."""
    events = read_file_stream(spark, EVENTS_SCHEMA, events_dir, max_files_per_trigger)
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionize_func(gap_minutes),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
