"""Session windows over the `events` table.

The reference is strictly batch (SURVEY §2.10). `user_sessions` is the
session-window aggregation the `user_sessions` query runs; the DuckDB
oracle re-derives it independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: inactivity gap that closes a session
SESSION_GAP = "30 minutes"


def user_sessions(events: DataFrame) -> DataFrame:
    """Session-window aggregation per user (`F.session_window`): a session
    is a maximal run of events whose inter-event gap is < `SESSION_GAP`; the
    window end is last-event + gap (Spark semantics, [start, end)). The DuckDB
    oracle re-derives sessions with the gaps-and-islands formulation."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id", "n_events", "sum_value",
        )
    )
