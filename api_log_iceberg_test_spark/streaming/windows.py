"""Event-time windowed aggregation with late-data handling.

Batch-equivalent shapes are oracled in ``queries.analytics.q_hourly_rollup``;
these functions are the streaming forms, verified in tests by running the
stream with ``availableNow`` over a file source and comparing to the batch
result (the streaming/batch unification Spark guarantees).

Scale notes: watermark bounds state size — without it, windowed state grows
unboundedly at 100 TB/day ingest. State-store partitioning follows
``spark.sql.shuffle.partitions``; size it to executor count on a cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import ensure_event_time


def tumbling_counts(
    stream: DataFrame,
    time_col: str = "time",
    key_col: str = "name",
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window per-key counts; late rows beyond the watermark drop."""
    return (
        ensure_event_time(stream, time_col).withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window_len).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "cnt",
        )
    )


def session_window_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Built-in session windows (gap-merged) of ``user_id`` over ``ts``,
    2-hour watermark — the declarative counterpart
    of streaming.sessionize (applyInPandasWithState) and the batch
    q_sessionize. Prefer this when per-session logic is pure aggregation;
    drop to the stateful UDF only for custom per-event logic."""
    return (
        ensure_event_time(stream, "ts").withWatermark("ts", "2 hours")
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def sliding_error_rate(stream: DataFrame) -> DataFrame:
    """Sliding-window error ratio (``httpStatusCode`` ≥ 400) over 10-minute
    ``time`` windows sliding by 1 minute, 30-minute watermark — the ops
    dashboard query."""
    is_err = (F.col("httpStatusCode") >= 400).cast("int")
    return (
        ensure_event_time(stream, "time").withWatermark("time", "30 minutes")
        .groupBy(F.window(F.col("time"), "10 minutes", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum(is_err).alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_requests",
            "n_errors",
            F.round(F.col("n_errors") / F.col("n_requests"), 6).alias("error_rate"),
        )
    )
