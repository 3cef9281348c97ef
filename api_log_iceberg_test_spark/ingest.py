"""Streaming log ingestion — the reference's core pipeline, Spark-native.

Reference semantics (README.md:191-212, SURVEY.md §3.1): each node buffers
api-log records in memory, flushes to a Parquet file when the buffer reaches
``PARQUET_FLUSH_COUNT`` records or ``PARQUET_FLUSH_INTERVAL`` elapses, drops
a 0-byte index marker per file, and a lock-elected leader atomically commits
all marked files to the Iceberg table every ``ICEBERG_COMMIT_INTERVAL``.

Spark-native restatement: one Structured Streaming query subsumes buffer,
flush, marker, leader and commit:

- micro-batch accumulation ≈ the in-memory buffer;
- ``Trigger.ProcessingTime(flush_interval)`` ≈ the flush interval;
- ``maxRecordsPerFile`` ≈ the flush count (bounds Parquet file size);
- the sink's transactional commit ≈ marker + leader election + atomic
  commit: an Iceberg ``toTable`` append is one catalog-mediated atomic
  snapshot per micro-batch, and concurrent writers resolve via optimistic
  retry — no markers, no locks, no custom code.
- checkpointing upgrades the reference's at-least-once to exactly-once.

Without the Iceberg runtime (this container), the same pipeline appends to a
plain Parquet directory via ``foreachBatch`` — per-batch visibility is still
atomic-per-task-commit, which is what the tests exercise; the Iceberg path
is the same code with ``use_iceberg_table`` set.

Config knobs mirror the reference env vars (docker-compose.yaml:31-36):
``IngestConfig.flush_count`` ↔ PARQUET_FLUSH_COUNT,
``IngestConfig.flush_interval`` ↔ PARQUET_FLUSH_INTERVAL, and the
staged mode's ``StagedCommitter(interval=<seconds>)`` ↔
ICEBERG_COMMIT_INTERVAL (the reference's "3m" is ``interval=180.0``).
Parquet targets are always partitioned by a ``_day`` column derived from
``time`` (the plain-Parquet stand-in for Iceberg's hidden ``days(time)``).

The reference's DUAL-cadence shape — flush every minute, leader commits
every three (README.md:200-212: staged Parquet + 0-byte index markers,
then a scheduled atomic publish) — is reproduced by the staged mode
(r10, closing the SURVEY §2.1 S5/S6 staging gap at the parquet level):

- :func:`start_staged_ingest` flushes each micro-batch to
  ``<target>__staging/batch-<run>-<epoch>/`` on the FLUSH cadence, where
  ``<run>`` is a prefix of the streaming query's id, which Spark keeps in
  the checkpoint; the batch directory's ``_SUCCESS`` file is the
  index-marker analogue (a flushed batch is commit-eligible iff it
  exists), and checkpoint + per-epoch overwrite make replayed flushes
  idempotent;
- :func:`commit_staged` runs on the COMMIT cadence (or from
  :class:`StagedCommitter`): it builds a new table VERSION with
  ``maintenance.build_version`` — hardlinks of the current version's
  files plus the staged batches' files under ``b<run>-<epoch>-`` names,
  so a crash between publish and staging cleanup finds the batch's key
  already live and skips it: exactly-once — and publishes it with
  ``maintenance.publish_version``'s atomic symlink swap, the same
  version layout ``maintenance.compact_parquet_table`` publishes.
  Readers pin a version via ``maintenance.read_compacted_table`` and
  never observe a partial commit; between commits, flushed-but-
  uncommitted data is invisible, exactly like the reference's staged
  files before the leader's Iceberg commit.

Single-cadence ``start_ingest`` remains the recommended shape (one
micro-batch = one atomic visible commit, strictly lower latency for the
same durability — SURVEY §7); the staged mode exists for cadence-fidelity
with the reference and for deployments that want fewer, larger commit
points than flushes.

Upgrading from a version that named staged batches after a
``_staged_ingest_id`` file in the checkpoint: stop the ingest query and
run :func:`commit_staged` to drain staging first. A batch staged under
the old id and replayed after the upgrade is staged again under the
query id, which the old batch's published key does not match, so its
rows would be published twice.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

#: Run ids are fixed-width lowercase hex: a prefix of the streaming
#: query's id (:func:`start_staged_ingest`). The staged-batch directory
#: pattern and the committed-key manifest regex both derive from this one
#: constant, so a run id always yields keys the manifest regex matches.
_RUN_ID_HEX_LEN = 8
#: Commit-eligible staging dirs: "batch-<run>-<epoch>". Anything else
#: under the staging root (a stray "batch-tmp", a bare "batch-7", an
#: operator's scratch dir) is IGNORED by commit_staged rather than
#: wedging the committer tick with a ValueError (ADVICE r11).
_BATCH_DIR_RE = re.compile(rf"batch-[0-9a-f]{{{_RUN_ID_HEX_LEN}}}-\d+")
#: Committed keys carried by live file names: "b<run>-<epoch>-...".
_COMMITTED_KEY_RE = re.compile(rf"^b([0-9a-f]{{{_RUN_ID_HEX_LEN}}}-\d+)-")


@dataclass
class IngestConfig:
    """Mirrors the reference's flush knobs (README.md:104-118); the
    commit cadence is :class:`StagedCommitter`'s ``interval``."""

    flush_count: int = 50_000  # PARQUET_FLUSH_COUNT production default
    flush_interval: str = "60 seconds"  # PARQUET_FLUSH_INTERVAL (test: 1m)
    #: None (default) derives a PER-TARGET checkpoint; a fixed shared
    #: default would make two default-config queries share streaming
    #: offsets — the second would silently write nothing (review finding).
    checkpoint_dir: str | None = None

    def checkpoint_for(self, target: str) -> str:
        if self.checkpoint_dir is not None:
            return self.checkpoint_dir
        import hashlib

        tag = hashlib.md5(target.encode()).hexdigest()[:12]
        return f"/tmp/api-log-ingest-checkpoint-{tag}"


def _with_day(df: DataFrame) -> DataFrame:
    """``df`` plus the ``_day`` partition column of the parquet layout
    (the stand-in for Iceberg's hidden days(time) transform, SURVEY
    §1.3), when it has a ``time`` column."""
    from pyspark.sql import functions as F

    return df.withColumn("_day", F.to_date("time")) if "time" in df.columns else df


def start_ingest(
    stream_df: DataFrame,
    target: str,
    config: IngestConfig | None = None,
    use_iceberg_table: bool = False,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the ingest query: stream of api-log rows → table.

    ``target`` is an Iceberg table name when ``use_iceberg_table`` (the
    production shape) else a Parquet directory path. ``available_now`` runs
    one catch-up pass and stops (used by tests and backfills).

    Exactly-once: checkpoint + (Iceberg snapshot commit | per-batch
    idempotent parquet append keyed on batchId).
    """
    config = config or IngestConfig()
    # the _day helper column is for the PARQUET layout only; the Iceberg
    # table partitions via its hidden days(time) transform and must receive
    # the 14-column schema unchanged (review finding: _day previously
    # leaked into toTable under the default config)
    df = stream_df if use_iceberg_table else _with_day(stream_df)

    writer = (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", config.checkpoint_for(target))
        .option("maxRecordsPerFile", config.flush_count)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=config.flush_interval)

    if use_iceberg_table:
        # Atomic snapshot per micro-batch through the catalog — the
        # Spark-native equivalent of the reference's marker+leader commit.
        return writer.toTable(target)

    if "_day" in df.columns:
        writer = writer.partitionBy("_day")
    return writer.format("parquet").option("path", target).start()


def staging_dir(target: str) -> str:
    return target.rstrip("/") + "__staging"


def start_staged_ingest(
    stream_df: DataFrame,
    target: str,
    config: IngestConfig | None = None,
    available_now: bool = False,
    on_flush=None,
) -> StreamingQuery:
    """FLUSH half of the dual-cadence shape: micro-batches land in
    ``<target>__staging/batch-<run>-<epoch>/`` and stay INVISIBLE to table
    readers until :func:`commit_staged` publishes them.

    Exactly-once staging: the checkpoint pins epoch ids, and a replayed
    epoch overwrites its own batch directory; ``_SUCCESS`` (written last
    by the parquet committer) marks a batch commit-eligible, so a
    half-written replay is never published.

    ``on_flush`` (optional ``callable(epoch_id)``) runs AFTER a batch's
    staging write completes but BEFORE Spark records the epoch in the
    checkpoint commit log — a metrics/backpressure hook, and the fault
    line the crash-replay test cuts at: raising here is exactly "process
    died between flush and checkpoint commit", the window where a
    restart must replay the already-staged epoch (VERDICT r11 #3).
    """
    config = config or IngestConfig()
    df = _with_day(stream_df)
    stage_root = staging_dir(target)

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        # the query id Spark keeps in the checkpoint: the same on a restart
        # from it, new for a fresh checkpoint
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        run_id = query_id.replace("-", "")[:_RUN_ID_HEX_LEN]
        w = batch_df.write.mode("overwrite").option(
            "maxRecordsPerFile", config.flush_count
        )
        if "_day" in batch_df.columns:
            w = w.partitionBy("_day")
        w.parquet(f"{stage_root}/batch-{run_id}-{epoch_id}")
        if on_flush is not None:
            on_flush(epoch_id)

    writer = (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", config.checkpoint_for(target))
        .foreachBatch(flush)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=config.flush_interval)
    return writer.start()


def commit_staged(target: str, retain_seconds: float = 60.0) -> int:
    """COMMIT half of the dual-cadence shape: atomically publish every
    commit-eligible staged batch into the versioned table at ``target``.

    Builds the next table version with ``maintenance.build_version`` —
    hardlinks of the current version's files under their existing names
    plus each staged batch's parquet files under ``b<run>-<epoch>-``
    prefixed names (partition subdirs preserved) — then swaps the table
    symlink via ``maintenance.publish_version`` and clears the published
    staging dirs. A partition that ``maintenance.compact_parquet_table``
    rewrote is plain files of the live version, carried like any other.

    Idempotent across crashes at (RUN, EPOCH) granularity: a staged
    ``batch-<run>-<epoch>`` whose key already has ``b<run>-<epoch>-``
    files in the live version is dropped without linking (its staging
    dir is still cleared). File-name dedup alone is not enough — a Spark
    epoch REPLAY rewrites the staged batch with fresh part-file UUIDs,
    so a crash between a mid-epoch publish and the checkpoint's
    commit-log write re-stages the same rows under new names; linking
    those alongside the already-published ones would duplicate rows
    (ADVICE r10). And epoch alone is not enough either — epoch ids are
    only unique within one checkpoint lineage, so a FRESH checkpoint
    against an existing target restarts at epoch 0 and an epoch-only
    key would silently drop its genuinely new batches as "replays"
    (review r11); the run id, a prefix of the streaming query id that
    the checkpoint keeps, disambiguates. The keys live only in file
    names: a compaction rewrites the files of the partitions it
    compacts under new names, so a batch replayed after its partitions
    were compacted is published again.

    The committed keys come from ONE walk of the live tree
    (``maintenance.live_files``), which is also the carry-forward list —
    so an all-replay drain (post-crash recovery) early-outs after the
    scan without building, then discarding, a speculative version tree
    (ADVICE r11). A crash between building a version and publishing it
    orphans an unpublished ``__v`` dir, which the next publish's
    retention sweep removes (proven in tests/test_ingest.py). Returns
    the number of staged batches drained (0 = nothing eligible).
    """
    import os
    import shutil

    from .maintenance import build_version, live_files, publish_version

    stage_root = staging_dir(target)

    def _batch_key(d: str) -> str:
        return d.split("-", 1)[1]  # "<run>-<epoch>"

    def _epoch(d: str) -> int:
        return int(d.rsplit("-", 1)[-1])

    batches = sorted(
        (
            d
            for d in (os.listdir(stage_root) if os.path.isdir(stage_root) else [])
            if _BATCH_DIR_RE.fullmatch(d)  # stray dirs skipped, not ValueError
            and os.path.exists(os.path.join(stage_root, d, "_SUCCESS"))
        ),
        key=lambda d: (_epoch(d), d),
    )
    if not batches:
        return 0

    live = live_files(target)
    committed = {
        m.group(1)
        for _, rel in live
        if (m := _COMMITTED_KEY_RE.match(os.path.basename(rel)))
    }
    fresh = [b for b in batches if _batch_key(b) not in committed]
    if fresh:
        staged = [(os.path.join(stage_root, b), f"b{_batch_key(b)}-") for b in fresh]
        publish_version(target, build_version(target, live, staged), retain_seconds)
    for b in batches:
        shutil.rmtree(os.path.join(stage_root, b))
    return len(batches)


class StagedCommitter:
    """Scheduled commit loop — the leader of the reference's marker+commit
    protocol, minus the lock election (one committer per table by
    construction; concurrent committers on one table would need the
    Iceberg path's optimistic catalog commit).

    A failing tick (e.g. a transient filesystem error in
    ``commit_staged``) does NOT kill the loop: the exception is recorded
    as ``last_error`` (count in ``failures``) and the next tick retries —
    staged batches are durable, so a later success drains everything the
    failed tick left behind. Pre-r11 the daemon thread died silently on
    the first exception and flushes accumulated invisibly forever
    (ADVICE r10). A persistent failure still surfaces: ``stop()``'s
    final drain runs in the CALLING thread and propagates the exception.
    """

    def __init__(
        self,
        target: str,
        interval: float = 180.0,
        retain_seconds: float = 60.0,
    ) -> None:
        import threading

        self.target = target
        self.retain_seconds = retain_seconds
        self._interval = interval
        self._stop = threading.Event()
        self.commits = 0
        self.failures = 0
        self.last_error: BaseException | None = None
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                self.commits += commit_staged(self.target, self.retain_seconds)
                self.last_error = None
            except Exception as e:  # noqa: BLE001 — keep ticking, surface via stop()
                self.last_error = e
                self.failures += 1

    def stop(self, final_commit: bool = True) -> int:
        """Stop the loop; by default drain staging with one last commit
        (runs in the calling thread, so a still-broken target raises
        here rather than vanishing with the daemon)."""
        self._stop.set()
        self._thread.join()
        if final_commit:
            self.commits += commit_staged(self.target, self.retain_seconds)
        return self.commits


def ingest_batch(df: DataFrame, target: str, config: IngestConfig | None = None) -> None:
    """Batch append (the generator's batch mode → table), same layout rules."""
    config = config or IngestConfig()
    out = _with_day(df)
    w = out.write.mode("append").option("maxRecordsPerFile", config.flush_count)
    if "_day" in out.columns:
        w = w.partitionBy("_day")
    w.parquet(target)
