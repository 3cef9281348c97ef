"""Table maintenance: compaction, snapshot expiry, orphan cleanup.

The reference's test config flushes every 10 records (docker-compose.yaml:34)
— a small-file factory. It defers cleanup to the Iceberg ecosystem; our
engine schedules it (BASELINE.json names compaction explicitly):

- Iceberg catalog present → the stock procedures
  (``rewrite_data_files`` / ``expire_snapshots`` / ``remove_orphan_files``),
  issued via ``CALL`` — metadata-transactional, safe under concurrent
  writers.
- Plain-Parquet table (test environment) → :func:`compact_parquet_table`
  rewrites the table, or one partition of it, to target-sized files.

A plain-Parquet table has one layout. ``<root>`` is a symlink to one
immutable version dir ``<root>__v<uuid>`` next to it. Every change is a
whole new version: :func:`build_version` hardlinks the live files that
stay, the writer adds its new files, and :func:`publish_version` swaps
the symlink and expires old versions. ``ingest.commit_staged`` publishes
staged batches this way and :func:`compact_parquet_table` publishes
rewritten files this way, so a commit and a compaction are both one
snapshot, as in Iceberg. Readers pin a version with
:func:`read_compacted_table`.

Scale notes: compaction at 100 TB must be incremental — pass a partition
predicate (``where``) so each run rewrites only recent partitions (e.g.
yesterday's ``days(time)`` partition), never the whole table.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

from .schema import read_parquet


def rewrite_data_files(spark: SparkSession, table: str, where: str | None = None) -> None:
    """Iceberg small-file compaction via the stock procedure, to 512 MiB files."""
    catalog = table.split(".")[0]
    pred = f", where => '{where}'" if where else ""
    spark.sql(
        f"CALL {catalog}.system.rewrite_data_files(table => '{table}'"
        ", options => map('target-file-size-bytes', '536870912')"
        f"{pred})"
    )


def expire_snapshots(spark: SparkSession, table: str, older_than: str) -> None:
    """Expire Iceberg snapshots older than a timestamp literal."""
    catalog = table.split(".")[0]
    spark.sql(
        f"CALL {catalog}.system.expire_snapshots(table => '{table}',"
        f" older_than => TIMESTAMP '{older_than}')"
    )


def remove_orphan_files(spark: SparkSession, table: str) -> None:
    catalog = table.split(".")[0]
    spark.sql(f"CALL {catalog}.system.remove_orphan_files(table => '{table}')")


def live_files(root: str) -> list[tuple[str, str]]:
    """(path, path relative to the version dir) of each parquet file of
    the version live at ``root``; [] when ``root`` does not exist. One
    walk, reused for the carry-forward list, replay keys and sizes."""
    if not os.path.exists(root):
        return []
    live = os.path.realpath(root)
    return [
        (os.path.join(dp, f), os.path.relpath(os.path.join(dp, f), live))
        for dp, _, fs in os.walk(live)
        for f in fs
        if f.endswith(".parquet")
    ]


def build_version(root: str, carried, staged=()) -> str:
    """Hardlink ``carried`` (pairs from :func:`live_files`) and every
    parquet file of each staged ``(tree, prefix)`` pair, under its
    relative dir as ``prefix + name``, into a fresh ``<root>__v<uuid>``
    dir, and return that dir. A partition compaction carries all but the
    partition it rewrites, a whole-table compaction nothing, and
    ``commit_staged`` everything plus its batches under
    ``b<run>-<epoch>-``. A version is O(#files) metadata, the
    manifest-less analogue of an Iceberg snapshot: the caller adds its
    new files and publishes it with :func:`publish_version`, after which
    it is never modified."""
    new_version = f"{root.rstrip('/')}__v{uuid.uuid4().hex[:8]}"
    links = list(carried) + [
        (os.path.join(dp, f), os.path.join(os.path.relpath(dp, tree), prefix + f))
        for tree, prefix in staged
        for dp, _, fs in os.walk(tree)
        for f in fs
        if f.endswith(".parquet")
    ]
    os.makedirs(new_version)
    for src, rel in links:
        dst = os.path.normpath(os.path.join(new_version, rel))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(src, dst)
    return new_version


def publish_version(root: str, new_version: str, retain_seconds: float = 60.0) -> None:
    """Atomically publish ``new_version`` (from :func:`build_version`) as
    the live contents of ``root``.

    ``root`` is a symlink to one ``<root>__v<uuid>`` sibling, and the
    commit is ``os.rename`` of a prepared symlink over the live one — a
    single atomic syscall. Handles the three root states: absent (first
    publish just links), plain directory (one-time migration to the
    versioned layout — rename+symlink, the only non-atomic step this
    layout ever performs), symlink (atomic swap).

    Superseded versions survive at least ``retain_seconds`` AFTER THE
    SWAP THAT REPLACED THEM (and the just-replaced version always
    survives this call) so readers that pinned a version at open time
    (:func:`read_compacted_table`) finish cleanly — the parquet-fallback
    analogue of ``expire_snapshots``. The retention clock keys on the
    version dir's mtime, which this function re-stamps at supersede time
    (a version dir is immutable once published, so its natural mtime
    would mean "created at" — under back-to-back swaps that would expire
    a version almost immediately after it was replaced, rug-pulling a
    reader that pinned it within the window; ADVICE r10). The sweep also
    removes an unpublished ``__v`` dir left by a crash before its
    publish, once it is older than ``retain_seconds``.
    """
    import time

    root = root.rstrip("/")
    parent = os.path.dirname(root) or "."
    prefix = os.path.basename(root) + "__v"
    current = None
    if os.path.islink(root):
        current = os.path.realpath(root)
    elif os.path.exists(root):
        # one-time migration: plain dir → versioned layout
        current = os.path.join(parent, f"{prefix}{uuid.uuid4().hex[:8]}")
        os.rename(root, current)
        os.symlink(os.path.relpath(current, parent), root)
    if current is None:
        os.symlink(os.path.relpath(new_version, parent), root)
        return
    swap = f"{root}__swap_{uuid.uuid4().hex[:8]}"
    os.symlink(os.path.relpath(new_version, parent), swap)
    os.rename(swap, root)
    # stamp "superseded at" on the version we just replaced, so the
    # retention test below measures time-since-supersede, not age
    if os.path.isdir(current):
        os.utime(current, None)
    # expire: keep the live version, the just-replaced one (in-flight
    # readers may hold its file list), and anything superseded less than
    # retain_seconds ago; drop the rest
    keep = {os.path.realpath(current), os.path.realpath(new_version)}
    cutoff = time.time() - retain_seconds
    for entry in os.listdir(parent):
        full = os.path.join(parent, entry)
        if (
            entry.startswith(prefix)
            and os.path.realpath(full) not in keep
            and os.path.isdir(full)
            and os.path.getmtime(full) < cutoff
        ):
            shutil.rmtree(full)


def read_compacted_table(spark: SparkSession, path: str):
    """Open a version-symlinked parquet table PINNED to the version live
    at call time.

    This is the reader half of :func:`publish_version`'s commit protocol
    — the parquet-fallback analogue of a table format's snapshot pin.
    Resolving the symlink BEFORE listing means the scan's file paths go
    through the immutable version directory, so a commit or compaction
    that lands mid-query repoints ``path`` without touching the files
    this reader already listed (they survive for ``retain_seconds``).
    Reading through the un-resolved symlink instead would re-resolve per
    file open and rug-pull the scan — the failure mode the concurrency
    test provokes.

    The schema comes from the footer Spark wrote into the version's first
    data file (:func:`~.schema.read_parquet`), and the partition columns
    (``_day``) from the version's dir names, so opening the table starts
    no Spark job. Spark still lists the version root: handing it the file
    list instead costs a parallel listing job past 32 files.
    """
    return read_parquet(spark, os.path.realpath(path))


def compact_parquet_table(
    spark: SparkSession,
    path: str,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    partition_subdir: str | None = None,
    retain_seconds: float = 60.0,
) -> int:
    """Compact a Parquet table, or one partition of it, to ~target-sized
    files, atomically under concurrent readers.

    A compaction is one more table version, like a ``commit_staged``
    commit (and like a ``rewrite_data_files`` snapshot in Iceberg):
    :func:`build_version` links every live file outside the compacted
    scope into a fresh version, the scope's rows are read from the live
    version and coalesced to ceil(bytes/target) files written into the
    same place in the new version (``<new_version>/<partition_subdir>``,
    or the whole version), and :func:`publish_version` swaps the table
    symlink. The scope is read with the schema from its first data
    file's footer (:func:`~.schema.read_parquet`), so the rewrite is its
    only Spark job. A reader pinned at open time (:func:`read_compacted_table`)
    sees the OLD version or the NEW version, never a gap — proven under
    a concurrent reader/compactor loop in tests/test_storage.py — and
    whole-root reads never see a version dir or symlink inside the table.

    Retention is TIME-based, like ``expire_snapshots``'s ``older_than``:
    a superseded version survives at least ``retain_seconds`` after the
    swap that replaced it, plus the just-replaced version always survives
    this call, so any reader shorter than ``retain_seconds`` is safe no
    matter how many swaps land mid-scan. Pass ``retain_seconds=0``
    during a read quiesce to shrink to the live + just-replaced pair.

    Compacting renames the files it rewrites, so the ``b<run>-<epoch>-``
    names that ``commit_staged``'s replay dedup keys on are gone from
    the compacted scope: compact only partitions whose staged batches
    can no longer be replayed.

    First call on a plain directory migrates it to the versioned layout —
    that one-time step is rename+symlink (two syscalls, not atomic; run
    it before opening the table to readers). Concurrent WRITERS are out
    of scope (a commit between the read and the swap would be dropped)
    — that is what the Iceberg path's metadata-transactional
    ``rewrite_data_files`` is for.

    Returns the new file count.
    """
    sub = os.path.join((partition_subdir or "").strip("/"), "")  # "": whole table
    files = live_files(path)
    size = sum(os.path.getsize(src) for src, rel in files if rel.startswith(sub))
    n_files = max(1, -(-size // target_file_size_bytes))
    df = read_parquet(spark, os.path.join(os.path.realpath(path), sub))
    carried = [(src, rel) for src, rel in files if not rel.startswith(sub)]
    new_version = build_version(path, carried)
    df.coalesce(n_files).write.mode("overwrite").parquet(os.path.join(new_version, sub))
    publish_version(path, new_version, retain_seconds)
    return n_files


def plan_compaction_bins(
    files,
    partition_cols: list[str],
    order_col: str,
    target_bytes: int = 128 * 1024 * 1024,
):
    """Distributed compaction PLANNING: assign each small file to an output
    bin of ~``target_bytes`` within its partition (next-fit by running
    total: a file joins bin ``floor(preceding_cumsum / target)``).

    This is the planning half of ``rewrite_data_files`` — what Iceberg's
    BinPackStrategy computes before rewriting — expressed as a DataFrame
    op over the file inventory (in Iceberg, the ``.files`` metadata
    table), so the plan for a million-file table is itself distributed:
    one window per table partition, never a driver-side listing. Next-fit
    keeps time-adjacent files together (preserving clustering on the
    order column), unlike best-fit-decreasing which shuffles time order
    for marginally tighter bins; a bin may overflow target by less than
    one file, matching the "aim, don't split" behavior of file rewrites.

    Returns the inventory with a ``bin`` column; downstream each (partition,
    bin) group is one coalesced rewrite task.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
    return files.withColumn(
        "bin", F.floor(prev_cum / F.lit(float(target_bytes))).cast("int")
    )
