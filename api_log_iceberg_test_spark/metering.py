"""Throughput metering (reference G3, SURVEY.md §2.6).

The reference's generator prints ops/sec progress and a final average
(generate-api-logs.sh:122-150,163). Spark-native equivalents:

- streaming: a ``StreamingQueryListener`` accumulating per-batch rates from
  ``progress.processedRowsPerSecond`` (attach with
  ``spark.streams.addListener``), or poll ``query.lastProgress``;
- batch: rows ÷ wall-clock around an action.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class ThroughputReport:
    total_rows: int
    elapsed_sec: float

    @property
    def rows_per_sec(self) -> float:
        return self.total_rows / self.elapsed_sec if self.elapsed_sec > 0 else 0.0


class RateListener(StreamingQueryListener):
    """Accumulates processed-row counts across micro-batches."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, float]] = []

    # StreamingQueryListener abstract API
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append((p.numInputRows, p.processedRowsPerSecond or 0.0))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    @property
    def total_rows(self) -> int:
        return sum(n for n, _ in self.batches)

    @property
    def mean_rate(self) -> float:
        rates = [r for _, r in self.batches if r > 0]
        return sum(rates) / len(rates) if rates else 0.0


def measure_batch(df) -> ThroughputReport:
    """Rows ÷ wall time for a noop-sink write of ``df``."""
    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    elapsed = time.time() - t0
    return ThroughputReport(total_rows=df.count(), elapsed_sec=elapsed)
