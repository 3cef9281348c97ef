"""Stream-stream interval join with watermark-bounded state.

The canonical attribution query: join a purchase stream to the signup/click
stream of the same user within a time window. Both sides carry watermarks
plus an event-time range condition — that pair is what lets Spark bound the
join state (rows older than watermark + interval are evicted), which is the
difference between O(window) and O(stream) state at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import ensure_event_time


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    max_lag: str = "1 hour",
) -> DataFrame:
    """Rows of ``left`` matched to ``right`` rows of the same key with
    right_time ∈ [left_time - max_lag, left_time].

    Both inputs may be streaming; each gets a 2-hour watermark so the
    state store evicts expired rows.
    """
    return _interval_join(left, right, key, left_time, right_time, max_lag, "inner")


def _interval_join(left, right, key, left_time, right_time, max_lag, how) -> DataFrame:
    l = ensure_event_time(left, left_time).withWatermark(left_time, "2 hours").alias("l")
    r = ensure_event_time(right, right_time).withWatermark(right_time, "2 hours").alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_time}") <= F.col(f"l.{left_time}"))
        & (
            F.col(f"r.{right_time}")
            >= F.col(f"l.{left_time}") - F.expr(f"INTERVAL {max_lag}")
        )
    )
    return l.join(r, cond, how)


def enrich_with_dim(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static enrichment: left-join each micro-batch against a
    (small) static dimension table.

    The static side is broadcast — no stream-side shuffle, no state store
    (stream-static joins are stateless by definition: each micro-batch
    re-reads the dim, which also means dim updates are picked up between
    batches). The canonical log-pipeline use: decorating api-log events
    with per-bucket/per-tenant metadata at 100 TB/day without touching
    state.
    """
    return stream.join(F.broadcast(dim), key, "left")


def interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    max_lag: str = "1 hour",
) -> DataFrame:
    """Left-OUTER stream-stream interval join: same match condition as
    :func:`interval_join`, but unmatched left rows are also emitted (right
    columns NULL) — the attribution query that must report purchases
    WITHOUT a preceding signup, not just drop them.

    The NULL row for a left event can only be emitted once the right-side
    watermark has passed ``left_time`` (no qualifying match can still
    arrive), so outer results trail the inner ones by up to the watermark
    delay — inherent to correct streaming outer joins, not a config knob.
    State stays bounded exactly as in the inner case: the time-range
    condition plus both watermarks let the store evict expired rows.

    Batch-mode note for tests/backfills: the same plan on static inputs is
    a plain left outer join with identical results, no trailing-emission
    caveat.
    """
    return _interval_join(left, right, key, left_time, right_time, max_lag, "leftOuter")
