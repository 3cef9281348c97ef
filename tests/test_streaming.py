"""Streaming analytics: windowed agg batch/stream parity, stateful
sessionization vs the batch oracle shape."""

from __future__ import annotations

from api_log_iceberg_test_spark.generator import generate_api_logs
from api_log_iceberg_test_spark.schema import API_LOG_SCHEMA
from api_log_iceberg_test_spark.streaming.windows import sliding_error_rate, tumbling_counts


def _stream_from(spark, tmp_path, df):
    src = str(tmp_path / "src")
    df.write.parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def test_tumbling_counts_stream_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    logs = generate_api_logs(spark, 2000, seed=21, span_days=2)
    stream = _stream_from(spark, tmp_path, logs)

    out = str(tmp_path / "out")
    q = (
        tumbling_counts(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["name"]): r["cnt"]
        for r in spark.read.parquet(out).collect()
    }

    want = {
        (r["ws"], r["name"]): r["cnt"]
        for r in logs.groupBy(
            F.date_trunc("hour", "time").alias("ws"), "name"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # availableNow emits only windows the watermark has passed; every emitted
    # window must match batch exactly, and most windows must have emitted.
    assert got, "stream emitted no windows"
    for k, v in got.items():
        assert want[k] == v, k
    assert len(got) >= len(want) * 0.9


def test_stream_dedup_drops_redeliveries(spark, tmp_path):
    """At-least-once source (30% of rows delivered twice) → exactly-once
    output via dropDuplicatesWithinWatermark; matches batch dropDuplicates."""
    from api_log_iceberg_test_spark.streaming.dedup import dedup_stream

    logs = generate_api_logs(spark, 1000, seed=31)
    dupes = logs.limit(300)
    src = str(tmp_path / "src")
    logs.write.parquet(src)
    dupes.write.mode("append").parquet(src)

    stream = spark.readStream.schema(logs.schema).parquet(src)
    out = str(tmp_path / "out")
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 1000
    assert got.select("requestId").distinct().count() == 1000


def test_incremental_rollup_equals_batch(spark, tmp_path):
    """foreachBatch-maintained hourly rollup == one-shot batch aggregate,
    including across a restart with more data (additive merge)."""
    from pyspark.sql import functions as F

    from api_log_iceberg_test_spark.streaming.rollup import (
        read_rollup,
        start_incremental_rollup,
    )

    logs1 = generate_api_logs(spark, 800, seed=41, span_days=2)
    logs2 = generate_api_logs(spark, 700, seed=42, span_days=2)
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    logs1.write.parquet(src)

    def run():
        q = start_incremental_rollup(
            spark.readStream.schema(logs1.schema).parquet(src), rollup, ckpt
        )
        q.awaitTermination(120)

    run()
    logs2.write.mode("append").parquet(src)
    run()  # restart: only the new files are processed (checkpoint)

    got = {
        (r["bucket_start"], r["name"]): (r["cnt"], r["sum_out"])
        for r in read_rollup(spark, rollup).collect()
    }
    want = {
        (r["bucket_start"], r["name"]): (r["cnt"], r["sum_out"])
        for r in logs1.union(logs2)
        .groupBy(F.date_trunc("hour", "time").alias("bucket_start"), "name")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("outputBytes").alias("sum_out"))
        .collect()
    }
    assert got == want


def test_rollup_batch_replay_is_noop(spark, tmp_path):
    """A micro-batch replayed after a crash (same batch_id) must not
    double-count; a crash between the swap renames must not lose the table
    (ADVICE round 1: the old foreachBatch upsert ignored batch_id)."""
    import os
    import shutil

    from api_log_iceberg_test_spark.streaming.rollup import (
        apply_rollup_batch,
        read_rollup,
    )

    logs = generate_api_logs(spark, 300, seed=51, span_days=1)
    rollup = str(tmp_path / "rollup")

    assert apply_rollup_batch(spark, logs, 0, rollup) is True
    base = {
        (r["bucket_start"], r["name"]): (r["cnt"], r["sum_out"])
        for r in read_rollup(spark, rollup).collect()
    }
    # checkpoint replay of batch 0 → skipped, counts unchanged
    assert apply_rollup_batch(spark, logs, 0, rollup) is False
    after = {
        (r["bucket_start"], r["name"]): (r["cnt"], r["sum_out"])
        for r in read_rollup(spark, rollup).collect()
    }
    assert after == base

    # simulate a crash between rename-old and rename-new: table dir missing,
    # .old holds the previous complete table → next apply restores + merges
    os.rename(rollup, rollup + ".old")
    assert apply_rollup_batch(spark, logs, 1, rollup) is True
    doubled = {
        (r["bucket_start"], r["name"]): (r["cnt"], r["sum_out"])
        for r in read_rollup(spark, rollup).collect()
    }
    assert doubled == {k: (c * 2, s * 2) for k, (c, s) in base.items()}
    shutil.rmtree(rollup)


def test_rollup_fresh_checkpoint_batches_are_merged(spark, tmp_path):
    """A stream on a fresh checkpoint restarts its batch ids at 0; the
    rollup's high-watermark belongs to the previous query, so those
    batches are merged, not skipped as replays."""
    from api_log_iceberg_test_spark.streaming.rollup import (
        read_rollup,
        start_incremental_rollup,
    )

    rollup = str(tmp_path / "rollup")
    for i, n in enumerate((300, 200)):
        src = str(tmp_path / f"src{i}")
        generate_api_logs(spark, n, seed=61 + i, span_days=1).write.parquet(src)
        start_incremental_rollup(
            spark.readStream.schema(API_LOG_SCHEMA).parquet(src),
            rollup,
            str(tmp_path / f"ckpt{i}"),
        ).awaitTermination(120)
    assert sum(r["cnt"] for r in read_rollup(spark, rollup).collect()) == 500


def test_transform_with_state_cumulative(spark, tmp_path):
    """transformWithStateInPandas: cumulative per-user stats equal the
    batch aggregate, including across a checkpoint restart with new data
    (state survives in the state store). Skips where the protobuf package
    (required by the transformWithState state-server protocol) is absent."""
    import pytest

    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from api_log_iceberg_test_spark.schema import load_table
    from api_log_iceberg_test_spark.streaming.state import cumulative_user_stats

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    # deterministic split: limit() without ordering can pick DIFFERENT rows
    # on re-evaluation inside exceptAll (latent flake)
    half1 = ev.where("event_id < 400").drop("event_id")
    ev = ev.drop("event_id")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half1.coalesce(1).write.parquet(src)

    def run():
        stream = spark.readStream.schema(half1.schema).parquet(src)

        def sink(batch, batch_id):
            batch.write.mode("append").parquet(out)

        q = (
            cumulative_user_stats(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # second tranche appended, restart from checkpoint: state must carry over
    rest = load_table(spark, "/root/testdata/sf0.001", "events").where(
        "event_id >= 400"
    ).select("user_id", "value")
    rest.coalesce(1).write.mode("append").parquet(src)
    run()

    emitted = spark.read.parquet(out)
    latest = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in emitted.orderBy("n_events")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("m"))
        .select("user_id", "m.n_events", "m.total_value")
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(latest) == set(want)
    for u, (n, t) in want.items():
        assert latest[u][0] == n, (u, latest[u], n)
        assert abs(latest[u][1] - t) < 1e-6, (u, latest[u], t)


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static broadcast join: every micro-batch row is decorated from
    the dim table with no state store; parity with the batch join."""
    from api_log_iceberg_test_spark.streaming.stream_join import enrich_with_dim

    logs = generate_api_logs(spark, 500, seed=71)
    dim = spark.createDataFrame(
        [("GetObject", "read"), ("PutObject", "write"), ("DeleteObject", "write")],
        ["name", "op_class"],
    )
    stream = _stream_from(spark, tmp_path, logs)
    out = str(tmp_path / "out")
    q = (
        enrich_with_dim(stream, dim, "name")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 500  # left join keeps unmatched ops
    want = logs.join(dim, "name", "left")
    from pyspark.sql import functions as F

    for cls in ["read", "write", None]:
        w = want.filter(
            F.col("op_class").isNull() if cls is None else F.col("op_class") == cls
        ).count()
        g = got.filter(
            F.col("op_class").isNull() if cls is None else F.col("op_class") == cls
        ).count()
        assert g == w, (cls, g, w)


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """The streaming curation gate emits exactly the rows the batch
    predicate accepts/rejects, scores identical (stateless projection)."""
    from api_log_iceberg_test_spark.schema import load_table
    from api_log_iceberg_test_spark.streaming.curation import quality_gate, scored_stream

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    stream = _stream_from(spark, tmp_path, docs)
    accepted, rejected = quality_gate(stream, min_quality=0.5, min_tokens=5)
    outs = {}
    for name, df in [("acc", accepted), ("rej", rejected)]:
        out = str(tmp_path / name)
        q = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        outs[name] = spark.read.parquet(out)

    batch = scored_stream(docs)  # same projection works on batch frames
    from pyspark.sql import functions as F

    pred = (F.col("quality") >= 0.5) & (F.col("n_tokens") >= 5)
    acc_ids = {r["doc_id"] for r in outs["acc"].select("doc_id").collect()}
    rej_ids = {r["doc_id"] for r in outs["rej"].select("doc_id").collect()}
    want_acc = {r["doc_id"] for r in batch.where(pred).select("doc_id").collect()}
    assert acc_ids == want_acc
    assert acc_ids | rej_ids == {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert not (acc_ids & rej_ids)
    # scores identical to the batch projection on a sample row
    sid = min(acc_ids)
    got_q = outs["acc"].filter(F.col("doc_id") == sid).collect()[0]["quality"]
    want_q = batch.filter(F.col("doc_id") == sid).collect()[0]["quality"]
    assert got_q == want_q


def test_sliding_error_rate_schema(spark, tmp_path):
    logs = generate_api_logs(spark, 500, seed=23, span_days=1)
    stream = _stream_from(spark, tmp_path, logs)
    df = sliding_error_rate(stream)
    assert set(df.columns) == {
        "window_start",
        "window_end",
        "n_requests",
        "n_errors",
        "error_rate",
    }
    assert df.isStreaming


def test_sessionize_stream(spark, tmp_path):
    """Stateful sessionization over a finite stream; gap closes sessions."""
    import datetime as dt

    from api_log_iceberg_test_spark.streaming.sessionize import sessionize_stream

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=5)),
        (1, t0 + dt.timedelta(hours=2)),  # new session (gap > 30m)
        (2, t0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    stream = _stream_from(spark, tmp_path, df)

    out = str(tmp_path / "out")
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).collect()
    # the first user-1 session (2 events) closed by the later event's gap
    closed = [r for r in got if r["user_id"] == 1 and r["n_events"] == 2]
    assert closed, f"expected user-1 2-event session, got {got}"


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file-source streams, watermarked interval join == batch join."""
    import datetime as dt

    from api_log_iceberg_test_spark.streaming.stream_join import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    purchases = spark.createDataFrame(
        [
            (1, t0, 100),
            (2, t0 + dt.timedelta(hours=3), 101),
            (3, t0, 102),
        ],
        ["user_id", "p_ts", "p_id"],
    )
    signups = spark.createDataFrame(
        [
            (1, t0 - dt.timedelta(minutes=30), 200),  # within 1h before -> match
            (2, t0, 201),                              # 3h before purchase -> no match
            (3, t0 + dt.timedelta(minutes=5), 202),    # after purchase -> no match
        ],
        ["user_id", "s_ts", "s_id"],
    )
    pdir, sdir = str(tmp_path / "p"), str(tmp_path / "s")
    purchases.write.parquet(pdir)
    signups.write.parquet(sdir)
    p_stream = spark.readStream.schema(purchases.schema).parquet(pdir)
    s_stream = spark.readStream.schema(signups.schema).parquet(sdir)

    joined = interval_join(
        p_stream, s_stream, key="user_id", left_time="p_ts", right_time="s_ts",
        max_lag="1 hour",
    ).select("p_id", "s_id")

    out = str(tmp_path / "out")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["p_id"], r["s_id"]) for r in spark.read.parquet(out).collect()}
    assert got == {(100, 200)}


def test_session_window_counts_matches_batch_sessionize(spark, tmp_path):
    """Built-in session_window event counts == the batch lag/cumsum
    sessionization (same 30-min gap), for sessions the watermark closed."""
    from api_log_iceberg_test_spark.queries.analytics import q_sessionize
    from api_log_iceberg_test_spark.schema import load_table
    from api_log_iceberg_test_spark.streaming.windows import session_window_counts

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)

    out = str(tmp_path / "out")
    q = (
        session_window_counts(stream, gap="30 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["n_events"], r["session_start"])
        for r in spark.read.parquet(out).collect()
    }
    assert got, "no sessions emitted"

    batch = {
        (r["user_id"], r["n_events"], r["session_start"])
        for r in q_sessionize(spark, sf_dir).collect()
    }
    # every emitted (closed) session must exist identically in the batch view
    assert got <= batch, f"streaming-only sessions: {got - batch}"
    assert len(got) >= 0.8 * len(batch)


def test_trending_terms_stream_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from api_log_iceberg_test_spark.operators.text import norm_text
    from api_log_iceberg_test_spark.schema import load_table
    from api_log_iceberg_test_spark.streaming.curation import (
        top_k_terms,
        trending_terms,
    )

    # documents have no event time: spread them over 6 hours by doc_id
    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select(
            F.timestamp_seconds(1_700_000_000 + (F.col("doc_id") % 6) * 3600 + F.col("doc_id")).alias("ts"),
            "text",
        )
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    out = str(tmp_path / "out")
    q = (
        trending_terms(stream, watermark="30 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = (
        docs.select(
            F.date_trunc("hour", "ts").alias("window_start"),
            F.explode(F.split(norm_text("text"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("window_start", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    got_map = {(r["window_start"], r["term"]): r["cnt"] for r in got.collect()}
    want_map = {(r["window_start"], r["term"]): r["cnt"] for r in want.collect()}
    assert got_map, "stream emitted nothing"
    for key, cnt in got_map.items():
        assert want_map[key] == cnt, key
    # append mode withholds windows the final watermark hasn't passed
    # (the last hour here) — everything emitted must be complete and exact
    assert len(got_map) >= len(want_map) * 0.5

    # batch top-k over the materialized counts matches top-k over batch counts
    topg = [(r["window_start"], r["rank"], r["term"]) for r in top_k_terms(got, 5).collect()]
    emitted_windows = {g[0] for g in topg}
    topw = [(r["window_start"], r["rank"], r["term"])
            for r in top_k_terms(want, 5).collect()
            if r["window_start"] in emitted_windows]
    assert topg == topw


def test_quality_gate_quarantines_null_text(spark, tmp_path):
    """A NULL-text document must land in the REJECTED stream, not vanish
    (three-valued logic would drop it from both sides of a where/~where
    split)."""
    from api_log_iceberg_test_spark.streaming.curation import quality_gate

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, None)],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    accepted, rejected = quality_gate(stream, min_tokens=2)

    outs = []
    for name, df in [("acc", accepted), ("rej", rejected)]:
        out = str(tmp_path / name)
        q = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        outs.append(spark.read.parquet(out))
    acc_ids = {r["doc_id"] for r in outs[0].select("doc_id").collect()}
    rej_ids = {r["doc_id"] for r in outs[1].select("doc_id").collect()}
    assert acc_ids | rej_ids == {1, 2}, (acc_ids, rej_ids)
    assert 2 in rej_ids


def test_sliding_error_rate_stream_equals_batch(spark, tmp_path):
    """Sliding (hopping) windows: every window the stream emits must carry
    the exact batch-computed counts for the same 10min/1min window spec —
    the stream/batch unification claim q_hopping_window_batch rests on."""
    from pyspark.sql import functions as F

    logs = generate_api_logs(spark, 2000, seed=29, span_days=1)
    stream = _stream_from(spark, tmp_path, logs)

    out = str(tmp_path / "out_slide")
    q = (
        sliding_error_rate(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"]: (r["n_requests"], r["n_errors"])
        for r in spark.read.parquet(out).collect()
    }
    assert got, "stream emitted no closed windows"

    is_err = (F.col("httpStatusCode") >= 400).cast("int")
    want = {
        r["ws"]: (r["n"], r["e"])
        for r in logs.groupBy(
            F.window("time", "10 minutes", "1 minute").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(is_err).alias("e"))
        .select(F.col("w.start").alias("ws"), "n", "e")
        .collect()
    }
    # availableNow emits only watermark-closed windows; each emitted window
    # must match the batch result exactly
    for ws, (n, e) in got.items():
        assert want[ws] == (n, e), f"window {ws}: stream {(n, e)} batch {want[ws]}"


def test_stream_stream_interval_join_outer_emits_nulls(spark, tmp_path):
    """Left-outer variant: matched pairs emit like the inner join; an
    UNMATCHED purchase emits with NULL right columns once the right-side
    watermark passes it. A far-future sentinel row pushes the watermark so
    the trailing outer results flush within the availableNow run."""
    import datetime as dt

    from api_log_iceberg_test_spark.streaming.stream_join import interval_join_outer

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    far = t0 + dt.timedelta(days=2)  # watermark pusher
    purchases = spark.createDataFrame(
        [
            (1, t0, 100),                             # has a signup -> match
            (2, t0, 101),                             # no signup -> NULL row
            (9, far, 999),                            # sentinel
        ],
        ["user_id", "p_ts", "p_id"],
    )
    signups = spark.createDataFrame(
        [
            (1, t0 - dt.timedelta(minutes=30), 200),
            (9, far, 900),
        ],
        ["user_id", "s_ts", "s_id"],
    )
    pdir, sdir = str(tmp_path / "p"), str(tmp_path / "s")
    purchases.write.parquet(pdir)
    signups.write.parquet(sdir)
    p_stream = spark.readStream.schema(purchases.schema).parquet(pdir)
    s_stream = spark.readStream.schema(signups.schema).parquet(sdir)

    joined = interval_join_outer(
        p_stream, s_stream, key="user_id", left_time="p_ts", right_time="s_ts",
        max_lag="1 hour",
    ).select("p_id", "s_id")

    out = str(tmp_path / "out")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["p_id"], r["s_id"])
        for r in spark.read.parquet(out).collect()
        if r["p_id"] != 999  # ignore the sentinel's own row(s)
    }
    assert got == {(100, 200), (101, None)}
    # batch-mode parity: same function on static frames = plain left outer
    batch = {
        (r["p_id"], r["s_id"])
        for r in interval_join_outer(
            purchases, signups, key="user_id", left_time="p_ts",
            right_time="s_ts", max_lag="1 hour",
        ).select("p_id", "s_id").collect()
    }
    assert batch == {(100, 200), (101, None), (999, 900)}
