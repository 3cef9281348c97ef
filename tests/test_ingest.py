"""Ingest pipeline: streaming append parity with the reference's smoke flow
(generate N ops → wait out flush+commit → COUNT(*) == N, README.md:62-75),
plus multimodal plumbing and maintenance compaction."""

from __future__ import annotations

import os

from api_log_iceberg_test_spark.generator import generate_api_logs
from api_log_iceberg_test_spark.ingest import IngestConfig, ingest_batch, start_ingest
from api_log_iceberg_test_spark.maintenance import compact_parquet_table
from api_log_iceberg_test_spark.operators import multimodal
from api_log_iceberg_test_spark.schema import API_LOG_SCHEMA, load_table


def test_stream_ingest_count_parity(spark, tmp_path):
    """File-source stream → parquet sink; all rows land exactly once."""
    n = 1000
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    generate_api_logs(spark, n, seed=9).write.parquet(src)

    stream = spark.readStream.schema(API_LOG_SCHEMA).parquet(src)
    q = start_ingest(
        stream,
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=ckpt),
        available_now=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(tgt).count() == n

    # restart with same checkpoint: no reprocessing (exactly-once)
    q2 = start_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=ckpt),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(tgt).count() == n


def test_batch_ingest_partitioned_by_day(spark, tmp_path):
    tgt = str(tmp_path / "t")
    ingest_batch(generate_api_logs(spark, 500, seed=11, span_days=3), tgt)
    days = [d for d in os.listdir(tgt) if d.startswith("_day=")]
    assert len(days) >= 3  # hidden days(time) partitioning (SURVEY.md §1.3)
    assert spark.read.parquet(tgt).count() == 500


def test_compaction_reduces_files(spark, tmp_path):
    tgt = str(tmp_path / "t")
    df = generate_api_logs(spark, 2000, seed=13)
    df.repartition(16).write.parquet(tgt)  # simulate 10-row-flush small files
    before = sum(f.endswith(".parquet") for f in os.listdir(tgt))
    n_after = compact_parquet_table(spark, tgt, target_file_size_bytes=1 << 30)
    after = sum(f.endswith(".parquet") for f in os.listdir(tgt))
    assert before == 16 and n_after == 1 and after == 1
    assert spark.read.parquet(tgt).count() == 2000


def test_multimodal_plumbing(spark):
    base = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    media = multimodal.synthesize_media(base)
    feats = multimodal.extract_image_features(media).collect()
    assert len(feats) == 50
    assert all(r["phash"] is not None and 32 <= r["width"] for r in feats)
    # deterministic: same payload → same features
    feats2 = multimodal.extract_image_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))

    frames = multimodal.sample_video_frames(media).collect()
    assert len(frames) == 150  # 3 fake frames per doc


def test_multimodal_resize_bounds_and_determinism(spark):
    base = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    media = multimodal.synthesize_media(base)
    out = {r["doc_id"]: r for r in multimodal.resize_images(media, 224, 224).collect()}
    feats = {r["doc_id"]: r for r in multimodal.extract_image_features(media).collect()}
    assert len(out) == 50
    for did, r in out.items():
        # original dims agree with the decode kernel's view of the payload
        assert (r["orig_width"], r["orig_height"]) == (
            feats[did]["width"],
            feats[did]["height"],
        )
        assert r["width"] <= 224 and r["height"] <= 224
        # aspect preserved within integer truncation
        if r["orig_width"] >= r["orig_height"]:
            assert r["width"] >= r["height"] - 1
        else:
            assert r["height"] >= r["width"] - 1
        # no upscaling
        assert r["width"] <= r["orig_width"] and r["height"] <= r["orig_height"]
        assert len(r["resized_payload"]) >= 16
    again = {r["doc_id"]: r for r in multimodal.resize_images(media, 224, 224).collect()}
    assert {d: (r["width"], r["height"]) for d, r in out.items()} == {
        d: (r["width"], r["height"]) for d, r in again.items()
    }


def test_multimodal_audio_features(spark):
    base = load_table(spark, "/root/testdata/sf0.001", "documents").limit(30)
    media = multimodal.synthesize_media(base)
    rows = multimodal.extract_audio_features(media).collect()
    assert len(rows) == 30
    for r in rows:
        assert 500 <= r["duration_ms"] < 500 + 65536
        assert r["sample_rate"] in (16000, 22050, 44100, 48000)
        assert 0.0 <= r["rms"] <= 1.0
    again = multimodal.extract_audio_features(media).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_staged_ingest_dual_cadence(spark, tmp_path):
    """The reference's flush-vs-commit staging (README.md:200-212: flush
    1m to staged parquet + marker, leader publishes every 3m) at the
    parquet level: flushed batches are INVISIBLE until commit_staged
    publishes them atomically; a crash between publish and staging
    cleanup never duplicates rows; later flushes commit incrementally."""
    import shutil

    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.ingest import staging_dir as _staging
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    n = 1000
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    generate_api_logs(spark, n, seed=21).write.parquet(src)

    q = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=ckpt),
        available_now=True,
    )
    q.awaitTermination(120)
    stage = _staging(tgt)
    staged = [d for d in os.listdir(stage) if d.startswith("batch-")]
    assert staged, "flush produced no staged batches"
    # dual cadence: flushed-but-uncommitted data is not in the table
    assert not os.path.exists(tgt)

    # simulate a crash AFTER publish, BEFORE staging cleanup: keep a copy
    backup = str(tmp_path / "staging_backup")
    shutil.copytree(stage, backup)
    assert commit_staged(tgt) == len(staged)
    assert read_compacted_table(spark, tgt).count() == n
    # replay the staged batches (crash recovery path) — prefixed names
    # already exist in the live version, so nothing duplicates
    for b in staged:
        shutil.copytree(os.path.join(backup, b), os.path.join(stage, b))
    assert commit_staged(tgt) == len(staged)
    assert read_compacted_table(spark, tgt).count() == n

    # a later flush cycle commits incrementally on the same checkpoint
    n2 = 300
    generate_api_logs(spark, n2, seed=22).write.mode("append").parquet(src)
    q2 = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=ckpt),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert commit_staged(tgt) >= 1
    assert read_compacted_table(spark, tgt).count() == n + n2
    # staging drained; exactly the live + predecessor versions retained
    assert not [d for d in os.listdir(stage) if d.startswith("batch-")]


def test_staged_committer_schedules_commits(spark, tmp_path):
    """StagedCommitter is the leader-loop analogue: flushed batches become
    visible within a commit interval without a manual commit call."""
    import time

    from api_log_iceberg_test_spark.ingest import StagedCommitter, start_staged_ingest
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    n = 500
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "table")
    generate_api_logs(spark, n, seed=23).write.parquet(src)
    committer = StagedCommitter(tgt, interval=0.5)
    try:
        q = start_staged_ingest(
            spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
            tgt,
            IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / "ckpt")),
            available_now=True,
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        while time.time() < deadline and not os.path.exists(tgt):
            time.sleep(0.2)
    finally:
        committer.stop(final_commit=True)
    assert committer.commits >= 1
    assert read_compacted_table(spark, tgt).count() == n


def test_staged_replay_fresh_part_names_no_duplicates(spark, tmp_path):
    """ADVICE r10: a real Spark epoch replay rewrites the staged batch
    with FRESH part-file UUIDs (copytree-based replay preserves names and
    masked the bug). commit_staged must dedup at EPOCH granularity: a
    batch whose b<epoch>- files already exist in the live version is
    dropped even when its part names are brand new."""
    import shutil

    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.ingest import staging_dir as _staging
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    n = 400
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "table")
    generate_api_logs(spark, n, seed=31).write.parquet(src)
    q = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / "ckpt")),
        available_now=True,
    )
    q.awaitTermination(120)
    stage = _staging(tgt)
    staged = [d for d in os.listdir(stage) if d.startswith("batch-")]
    backup = str(tmp_path / "staging_backup")
    shutil.copytree(stage, backup)
    assert commit_staged(tgt) == len(staged)
    assert read_compacted_table(spark, tgt).count() == n

    # replay the same epochs under fresh part-file names
    for b in staged:
        shutil.copytree(os.path.join(backup, b), os.path.join(stage, b))
        for dp, _, fs in os.walk(os.path.join(stage, b)):
            for f in fs:
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(dp, f), os.path.join(dp, "replayed-" + f)
                    )
    assert commit_staged(tgt) == len(staged)  # drained, not re-published
    assert read_compacted_table(spark, tgt).count() == n
    assert not [d for d in os.listdir(stage) if d.startswith("batch-")]


def test_staged_fresh_checkpoint_epoch_restart_publishes(spark, tmp_path):
    """Review r11: Spark epoch ids restart at 0 under a FRESH checkpoint,
    so an epoch-only dedup key would classify a second ingest run's
    batches as replays of the first's and silently DELETE genuinely new
    data. The per-checkpoint run id in the batch key must keep the two
    runs' epoch-0.. batches distinct."""
    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    n1, n2 = 300, 200
    tgt = str(tmp_path / "table")
    src1, src2 = str(tmp_path / "src1"), str(tmp_path / "src2")
    generate_api_logs(spark, n1, seed=41).write.parquet(src1)
    generate_api_logs(spark, n2, seed=42).write.parquet(src2)

    q = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src1),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / "ckpt1")),
        available_now=True,
    )
    q.awaitTermination(120)
    assert commit_staged(tgt) >= 1
    assert read_compacted_table(spark, tgt).count() == n1

    # second run: NEW source, NEW checkpoint — epochs restart at 0
    q2 = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src2),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / "ckpt2")),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert commit_staged(tgt) >= 1
    assert read_compacted_table(spark, tgt).count() == n1 + n2


def test_staged_committer_survives_transient_failure(tmp_path, monkeypatch):
    """ADVICE r10: one transient commit_staged failure must not kill the
    committer daemon — it records the error and keeps ticking; staged
    batches are durable so the next successful tick drains them."""
    import time

    from api_log_iceberg_test_spark import ingest

    calls = {"n": 0}
    real = ingest.commit_staged

    def flaky(target, retain_seconds=60.0):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("transient fs hiccup")
        return real(target, retain_seconds)

    monkeypatch.setattr(ingest, "commit_staged", flaky)
    committer = ingest.StagedCommitter(str(tmp_path / "table"), interval=0.05)
    try:
        deadline = time.time() + 30
        while time.time() < deadline and calls["n"] < 4:
            time.sleep(0.05)
    finally:
        committer.stop(final_commit=True)
    assert calls["n"] >= 4, "loop died after the transient failures"
    assert committer.failures == 2
    assert committer.last_error is None  # cleared by the first success


def test_commit_staged_skips_stray_batch_dirs(spark, tmp_path):
    """ADVICE r11: a non-conforming dir under staging (e.g. 'batch-tmp'
    with a _SUCCESS) must be ignored, not wedge the committer tick with
    a ValueError from int(). A bare 'batch-<epoch>' dir (no run id) is
    non-conforming too."""
    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.ingest import staging_dir as _staging
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    n = 200
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "table")
    generate_api_logs(spark, n, seed=51).write.parquet(src)
    q = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / "ckpt")),
        available_now=True,
    )
    q.awaitTermination(120)
    stage = _staging(tgt)
    real = [d for d in os.listdir(stage) if d.startswith("batch-")]
    strays = [os.path.join(stage, d) for d in ("batch-tmp", "batch-7")]
    for stray in strays:
        os.makedirs(stray)
        open(os.path.join(stray, "_SUCCESS"), "w").close()

    assert commit_staged(tgt) == len(real)  # strays neither counted nor fatal
    assert read_compacted_table(spark, tgt).count() == n
    for stray in strays:
        assert os.path.isdir(stray), "stray dir must be left alone, not deleted"


def test_commit_after_partition_compaction_keeps_rows(spark, tmp_path):
    """A commit after a per-day compaction carries the compacted day
    forward: compaction publishes a whole table version, so the next
    commit_staged links its files like any other live files."""
    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.maintenance import (
        compact_parquet_table,
        read_compacted_table,
    )

    src, tgt = str(tmp_path / "src"), str(tmp_path / "table" / "api")
    config = IngestConfig(flush_count=50, checkpoint_dir=str(tmp_path / "ckpt"))

    def ingest(batch: int) -> None:
        generate_api_logs(
            spark, 300, seed=batch, span_days=2, num_partitions=2
        ).write.parquet(f"{src}/b{batch}")
        stream = spark.readStream.schema(API_LOG_SCHEMA).parquet(f"{src}/*")
        start_staged_ingest(stream, tgt, config, available_now=True).awaitTermination(120)
        assert commit_staged(tgt) == 1

    ingest(0)
    days = sorted(d for d in os.listdir(tgt) if d.startswith("_day="))
    compact_parquet_table(spark, tgt, partition_subdir=days[0])
    assert read_compacted_table(spark, tgt).count() == 300
    ingest(1)
    assert read_compacted_table(spark, tgt).count() == 600
    assert spark.read.parquet(tgt).count() == 600


def test_all_replay_drain_creates_no_version_dir(spark, tmp_path):
    """ADVICE r11: an all-replay drain (post-crash recovery) should
    early-out after the manifest scan — no speculative hardlink tree is
    built and thrown away, and no transient __v dir ever appears."""
    import shutil

    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.ingest import staging_dir as _staging
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    n = 200
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "table")
    generate_api_logs(spark, n, seed=53).write.parquet(src)
    q = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / "ckpt")),
        available_now=True,
    )
    q.awaitTermination(120)
    stage = _staging(tgt)
    staged = [d for d in os.listdir(stage) if d.startswith("batch-")]
    backup = str(tmp_path / "backup")
    shutil.copytree(stage, backup)
    assert commit_staged(tgt) == len(staged)

    def versions():
        base = os.path.basename(tgt) + "__v"
        return {d for d in os.listdir(tmp_path) if d.startswith(base)}

    before = versions()
    for b in staged:  # crash-recovery replay: every batch already committed
        shutil.copytree(os.path.join(backup, b), os.path.join(stage, b))
    assert commit_staged(tgt) == len(staged)
    assert versions() == before, "all-replay drain must not create a version"
    assert read_compacted_table(spark, tgt).count() == n


def test_orphan_unpublished_version_swept_by_next_publish(spark, tmp_path):
    """A crash between version-dir creation and publish_version leaves an
    unpublished __v orphan; the NEXT successful publish's retention loop
    must sweep it once it ages past retain_seconds (ADVICE r11)."""
    import time

    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    generate_api_logs(spark, 100, seed=55).write.parquet(src1)
    generate_api_logs(spark, 100, seed=56).write.parquet(src2)

    q = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src1),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=ckpt),
        available_now=True,
    )
    q.awaitTermination(120)
    assert commit_staged(tgt) >= 1

    # simulate the crash orphan: an unpublished version dir, already old
    orphan = tgt + "__vdeadbeef"
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-orphan.parquet"), "w").close()
    os.utime(orphan, (time.time() - 3600, time.time() - 3600))

    generate_api_logs(spark, 100, seed=56).write.mode("append").parquet(src1)
    q2 = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA).parquet(src1),
        tgt,
        IngestConfig(flush_count=100, checkpoint_dir=ckpt),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert commit_staged(tgt, retain_seconds=60.0) >= 1
    assert not os.path.exists(orphan), "next publish must sweep the orphan"
    assert read_compacted_table(spark, tgt).count() == 200


def test_staged_mid_epoch_crash_restart_real_replay(spark, tmp_path):
    """VERDICT r11 #3: a TRUE crash-restart replay, no copytree. The
    on_flush hook raises after epoch 1's staging write returns — exactly
    'process died between flush and checkpoint commit-log write'. A
    mid-crash commit publishes the orphaned epoch; restarting the SAME
    checkpoint makes Spark itself replay epoch 1 (fresh part-file UUIDs,
    real epoch ids end-to-end) and continue. The final publish must
    dedup the replayed epoch on its (run, epoch) key: exactly-once."""
    import pytest

    from api_log_iceberg_test_spark.ingest import commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.ingest import staging_dir as _staging
    from api_log_iceberg_test_spark.maintenance import read_compacted_table

    n = 400
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    # 4 source files + maxFilesPerTrigger=1 → 4 real micro-batch epochs
    generate_api_logs(spark, n, seed=61).repartition(4).write.parquet(src)

    def crash_after_epoch_1(epoch_id: int) -> None:
        if epoch_id == 1:
            raise RuntimeError("injected crash between flush and commit log")

    stream = (
        spark.readStream.schema(API_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_staged_ingest(
        stream,
        tgt,
        IngestConfig(flush_count=1000, checkpoint_dir=ckpt),
        available_now=True,
        on_flush=crash_after_epoch_1,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
        raise AssertionError("query should have failed")  # pragma: no cover

    stage = _staging(tgt)
    staged = sorted(d for d in os.listdir(stage) if d.startswith("batch-"))
    assert len(staged) == 2, f"epochs 0 and 1 staged before the crash: {staged}"
    epoch1 = staged[1]
    names_before = {
        f
        for dp, _, fs in os.walk(os.path.join(stage, epoch1))
        for f in fs
        if f.endswith(".parquet")
    }
    # mid-crash commit: the orphaned flushed epoch gets published
    assert commit_staged(tgt) == 2
    published = read_compacted_table(spark, tgt).count()
    assert 0 < published < n

    # restart the SAME checkpoint — Spark replays epoch 1 itself
    q2 = start_staged_ingest(
        spark.readStream.schema(API_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tgt,
        IngestConfig(flush_count=1000, checkpoint_dir=ckpt),
        available_now=True,
    )
    q2.awaitTermination(120)
    restaged = sorted(d for d in os.listdir(stage) if d.startswith("batch-"))
    assert epoch1 in restaged, "epoch 1 must be replayed by Spark on restart"
    names_after = {
        f
        for dp, _, fs in os.walk(os.path.join(stage, epoch1))
        for f in fs
        if f.endswith(".parquet")
    }
    # the replay is REAL: Spark rewrote the batch under fresh part UUIDs
    assert names_after and names_after.isdisjoint(names_before)

    assert commit_staged(tgt) == len(restaged)
    assert read_compacted_table(spark, tgt).count() == n  # exactly-once
    assert not [d for d in os.listdir(stage) if d.startswith("batch-")]


def test_staged_run_id_is_spark_query_id(spark, tmp_path):
    """Staged batch dirs are named with the streaming query id's hex
    prefix: a restart from the same checkpoint keeps it (Spark keeps the
    id in the checkpoint), a fresh checkpoint gets a new one."""
    from api_log_iceberg_test_spark.ingest import (
        _RUN_ID_HEX_LEN,
        commit_staged,
        start_staged_ingest,
    )
    from api_log_iceberg_test_spark.ingest import staging_dir as _staging

    src, tgt = str(tmp_path / "src"), str(tmp_path / "table")
    stage = _staging(tgt)

    def run(seed: int, ckpt: str) -> tuple[str, set[str]]:
        generate_api_logs(spark, 100, seed=seed).write.mode("append").parquet(src)
        q = start_staged_ingest(
            spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
            tgt,
            IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / ckpt)),
            available_now=True,
        )
        q.awaitTermination(120)
        runs = {d.split("-")[1] for d in os.listdir(stage) if d.startswith("batch-")}
        assert commit_staged(tgt) >= 1
        return q.id.replace("-", "")[:_RUN_ID_HEX_LEN], runs

    first, runs = run(71, "ckpt1")
    assert runs == {first}
    restarted, runs = run(72, "ckpt1")
    assert restarted == first and runs == {first}
    fresh, runs = run(73, "ckpt2")
    assert fresh != first and runs == {fresh}


def test_maintenance_audit_query_end_to_end(spark, sf_dir):
    """r13 (VERDICT r12 #5): the maintenance-audit registry entry replays
    the dual-cadence staged-commit shape against a scratch table and
    audits every published version. Beyond the DuckDB hash oracle
    (differential sweep), pin the invariants the oracle can't see:
    exactly one live version (the last), monotone non-decreasing census,
    final totals equal the source, and the scratch tree cleaned up."""
    import glob as _glob
    import os as _os
    import tempfile as _tempfile

    from api_log_iceberg_test_spark.operators.registry import q_maintenance_audit
    from api_log_iceberg_test_spark.schema import load_table

    # mkdtemp honors TMPDIR, so glob where it actually writes, and only
    # flag trees NEW since this call (ADVICE r13: a hardcoded /tmp glob is
    # vacuous under TMPDIR overrides and false-fails on concurrent leaks)
    scratch_pat = _os.path.join(_tempfile.gettempdir(), "maint_audit_*")
    pre_existing = set(_glob.glob(scratch_pat))
    rows = q_maintenance_audit(spark, sf_dir).collect()
    assert rows, "audit must cover at least one commit"
    assert [r["commit_seq"] for r in rows] == list(range(len(rows)))
    assert [r["is_live"] for r in rows] == [False] * (len(rows) - 1) + [True]
    totals = [r["rows_total"] for r in rows]
    assert totals == sorted(totals)
    assert sum(r["rows_added"] for r in rows) == totals[-1]
    # every commit linked one file per batch forward (repartition(1) staging)
    assert all(r["files_live"] == r["batches_committed"] for r in rows)
    n_events = load_table(spark, sf_dir, "events").count()
    assert totals[-1] == n_events
    # scratch table cleaned up (no NEW trees since the call)
    leaked = set(_glob.glob(scratch_pat)) - pre_existing
    assert not leaked, f"scratch trees leaked: {sorted(leaked)}"
