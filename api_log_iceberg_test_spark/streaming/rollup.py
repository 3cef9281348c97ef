"""Incremental rollup maintenance — the hypertable-continuous-aggregate
analog on Spark.

A streaming source feeds ``foreachBatch``; each micro-batch's partial
aggregate is MERGED into a persistent rollup table keyed on the window
bucket, by summing the additive components (count / sum) — so the rollup
is exact after every commit without ever rescanning history. Averages and
other non-additive metrics derive from the additive ones at read time.

Scale notes: the per-batch aggregate is tiny (one row per touched bucket ×
key), so the merge join broadcasts it against the rollup table; with an
Iceberg sink this becomes ``MERGE INTO`` with copy-on-write handled by the
table format. The parquet fallback here rewrites only the rollup table
(bucket-count-sized, not data-sized). Exactly-once comes from the
streaming checkpoint + a per-query batch-id high-watermark stored with the
rollup, which turns checkpoint-replayed micro-batches into no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import read_parquet

#: additive rollup schema: one row per (bucket_start, name)
_KEYS = ["bucket_start", "name"]


def _batch_partial(batch: DataFrame) -> DataFrame:
    return (
        batch.groupBy(
            F.date_trunc("hour", F.col("time")).alias("bucket_start"),
            F.col("name"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("outputBytes").alias("sum_out"),
        )
    )


def merge_rollup(existing: DataFrame, partial: DataFrame) -> DataFrame:
    """Additive merge: full-outer on the bucket key, components summed."""
    e = existing.select(
        *_KEYS, F.col("cnt").alias("e_cnt"), F.col("sum_out").alias("e_sum")
    )
    p = partial.select(
        *_KEYS, F.col("cnt").alias("p_cnt"), F.col("sum_out").alias("p_sum")
    )
    return (
        e.join(p, _KEYS, "full_outer")
        .select(
            *_KEYS,
            (F.coalesce("e_cnt", F.lit(0)) + F.coalesce("p_cnt", F.lit(0))).alias("cnt"),
            (F.coalesce("e_sum", F.lit(0)) + F.coalesce("p_sum", F.lit(0))).alias(
                "sum_out"
            ),
        )
    )


#: sidecar recording "<query id> <batch id>" of the last micro-batch
#: merged into the rollup. Leading underscore → Spark's file index treats
#: it as hidden (like _SUCCESS), so parquet reads of the directory ignore it.
_BATCH_MARKER = "_last_batch_id"


def _applied_batch_id(rollup_dir: str, query_id: str | None) -> int:
    """The last batch id of query ``query_id`` merged into the rollup; -1
    when the marker is another query's, so a fresh checkpoint's batches,
    which restart at 0, are merged. A bare batch id (a marker from before
    it carried the query id) counts as the current query's."""
    try:
        with open(os.path.join(rollup_dir, _BATCH_MARKER)) as f:
            *marker_query, batch_id = f.read().split()
        if marker_query and marker_query[0] != str(query_id):
            return -1
        return int(batch_id)
    except (FileNotFoundError, ValueError):
        return -1


def apply_rollup_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    rollup_dir: str,
) -> bool:
    """Merge one micro-batch into the rollup, exactly once.

    Idempotent under checkpoint replay: the rollup carries a high-watermark
    sidecar (``_last_batch_id``) with the id of the streaming query that
    wrote it (Spark keeps it in the checkpoint; None outside a stream); a
    batch of the same query at or below it was already merged before the
    crash, so the replay is skipped instead of double-counting. Returns
    whether the batch was applied.

    The swap is rename-old → rename-new (never delete-then-rename), so no
    crash point loses the table: if a crash lands between the renames, the
    complete previous table still exists at ``<dir>.old`` and is restored on
    the next call. With an Iceberg sink both concerns disappear into a
    single atomic MERGE INTO commit.
    """
    import shutil

    old = rollup_dir + ".old"
    # crash recovery: died between the two renames → restore the previous
    # table (the marker in it then re-triggers this batch's merge)
    if not os.path.exists(rollup_dir) and os.path.exists(old):
        os.rename(old, rollup_dir)

    query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    if batch_id <= _applied_batch_id(rollup_dir, query_id):
        return False  # checkpoint replay of an already-merged batch

    partial = _batch_partial(batch)
    if os.path.exists(rollup_dir):
        existing = read_parquet(spark, rollup_dir)
        merged = merge_rollup(existing, partial)
    else:
        merged = partial
    tmp = rollup_dir + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _BATCH_MARKER), "w") as f:
        f.write(f"{query_id} {batch_id}")
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(rollup_dir):
        os.rename(rollup_dir, old)
    os.rename(tmp, rollup_dir)
    shutil.rmtree(old, ignore_errors=True)
    return True


def start_incremental_rollup(stream: DataFrame, rollup_dir: str, checkpoint_dir: str):
    """Maintain an hourly (bucket of ``time``, name) → (cnt, sum_out) rollup
    table incrementally from a stream. Returns the StreamingQuery."""
    spark = stream.sparkSession

    def upsert(batch: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(spark, batch, batch_id, rollup_dir)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Read the rollup with derived (non-additive) metrics."""
    r = read_parquet(spark, rollup_dir)
    return r.select(
        *_KEYS,
        "cnt",
        "sum_out",
        F.round(F.col("sum_out") / F.col("cnt"), 4).alias("avg_out"),
    )
