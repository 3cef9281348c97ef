"""Streaming deduplication: at-least-once delivery → exactly-once rows.

The reference's ingest path tolerates redelivered log records between flush
and commit (README.md:200-212 two-phase cadence); on Spark the idiomatic
equivalent is ``dropDuplicatesWithinWatermark`` keyed on the record id —
state holds one entry per key only until the event-time watermark passes,
so state size is bounded by (ingest rate × watermark), not by history.

Scale notes: the dedup key shuffles to co-locate duplicates; state-store
partitions follow ``spark.sql.shuffle.partitions``. A 2-hour watermark at
1M rows/s holds ~7.2B keys of state — size RocksDB state store + partition
count accordingly, or narrow the watermark to the real redelivery window.
"""

from __future__ import annotations

from . import ensure_event_time

from pyspark.sql import DataFrame


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Drop redelivered rows by ``requestId`` arriving within a 2-hour
    watermark on ``time``.

    Unlike plain ``dropDuplicates`` on a stream (state grows forever),
    ``dropDuplicatesWithinWatermark`` evicts key state once the watermark
    passes the key's first-seen event time — the correct primitive when
    duplicates are bounded-lateness redeliveries, not arbitrary re-sends.
    """
    return ensure_event_time(stream, "time").withWatermark(
        "time", "2 hours"
    ).dropDuplicatesWithinWatermark(["requestId"])
