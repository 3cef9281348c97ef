"""Physical-layout tests: bucketed joins plan without exchanges; salted
aggregation is semantics-preserving."""

from __future__ import annotations

from pyspark.sql import functions as F

from api_log_iceberg_test_spark.operators.skew import salted_aggregate
from api_log_iceberg_test_spark.schema import load_table
from api_log_iceberg_test_spark.storage import cojoin_bucketed, write_bucketed


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); unique names + full cleanup so reruns never collide
    import shutil
    import uuid

    suffix = uuid.uuid4().hex[:8]
    t_orders, t_lineitem = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(orders, t_orders, "o_orderkey", 8)
        write_bucketed(lineitem, t_lineitem, "l_orderkey", 8)

        # at test scale the planner would rather broadcast (and skip the
        # bucketing); disable auto-broadcast to exercise the fact-fact
        # shape bucketing exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = cojoin_bucketed(spark, t_orders, t_lineitem, "o_orderkey", "l_orderkey")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "Exchange" not in plan, plan
        # and the join is still correct
        n = joined.count()
        plain = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        for t in (t_orders, t_lineitem):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)


def test_salted_aggregate_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "cnt": "count:*",
            "total": "sum:value",
            "vmin": "min:value",
            "vmax": "max:value",
        },
        salt_buckets=16,
    )
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    a = {r["event_type"]: (r["cnt"], round(r["total"], 4), r["vmin"], r["vmax"]) for r in salted.collect()}
    b = {r["event_type"]: (r["cnt"], round(r["total"], 4), r["vmin"], r["vmax"]) for r in plain.collect()}
    assert a == b


def test_training_shard_export_roundtrip(spark, sf_dir, tmp_path):
    from api_log_iceberg_test_spark.operators import text as text_ops
    from api_log_iceberg_test_spark.schema import load_table
    from api_log_iceberg_test_spark import storage

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", text_ops.token_count("text").alias("n_tokens")
    )
    out = str(tmp_path / "shards")
    storage.write_training_shards(docs, out, max_records_per_file=50, fmt="json")

    back = spark.read.json(out)
    assert back.count() == docs.count()
    # hive partition dirs by lang exist and reload with the partition column
    assert sorted(r["lang"] for r in back.select("lang").distinct().collect()) == sorted(
        r["lang"] for r in docs.select("lang").distinct().collect()
    )

    man = storage.shard_manifest(spark, out, token_col="n_tokens").collect()
    assert all(r["n_rows"] <= 50 for r in man), "maxRecordsPerFile cap violated"
    assert sum(r["n_rows"] for r in man) == docs.count()
    total_tokens = docs.agg(F.sum("n_tokens")).collect()[0][0]
    assert sum(r["n_tokens"] for r in man) == total_tokens


def test_compaction_swap_is_atomic_under_concurrent_reader(spark, sf_dir, tmp_path):
    """The reference's flush-every-10 test config is a small-file factory
    (docker-compose.yaml:34); compaction must not break readers. This
    drives compact_parquet_table in a background loop while the
    foreground reads the table continuously through the pinned-version
    reader (read_compacted_table): every read must succeed and return
    the full row count — old version or new version, never a missing
    path, a half-swapped directory, or files deleted out from under an
    in-flight scan (VERDICT r09 #5). The pre-r10 rename-swap failed this
    intermittently (path-not-found in the rename window, and
    file-not-found after its immediate old-version delete)."""
    import threading

    from api_log_iceberg_test_spark.maintenance import (
        compact_parquet_table,
        read_compacted_table,
    )

    tgt = str(tmp_path / "events_compact_race")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    n_rows = ev.count()
    # many small files — the state compaction exists to fix
    ev.repartition(16).write.parquet(tgt)
    # one-time layout migration happens before readers arrive (its
    # rename+symlink step is the documented non-atomic exception)
    compact_parquet_table(spark, tgt, target_file_size_bytes=1 << 16)

    stop = threading.Event()
    compactor_err: list[BaseException] = []

    def compact_loop():
        try:
            # alternate target sizes so every pass really rewrites; the
            # default retention window keeps every superseded version
            # alive for the duration of the test's reads
            for i in range(6):
                if stop.is_set():
                    return
                compact_parquet_table(
                    spark, tgt, target_file_size_bytes=(1 << 30) if i % 2 else 1 << 16
                )
        except BaseException as e:  # noqa: BLE001 — surface in main thread
            compactor_err.append(e)

    t = threading.Thread(target=compact_loop, daemon=True)
    t.start()
    reads = 0
    try:
        while t.is_alive():
            got = read_compacted_table(spark, tgt).count()
            assert got == n_rows, f"read {reads}: {got} rows != {n_rows}"
            reads += 1
    finally:
        stop.set()
        t.join(timeout=120)
    assert not compactor_err, compactor_err
    assert reads >= 3, f"only {reads} reads overlapped the compaction loop"
    # quiesced expiry shrinks to the live version + just-replaced pair
    import glob as _glob
    import os as _os

    compact_parquet_table(spark, tgt, target_file_size_bytes=1 << 30, retain_seconds=0)
    versions = [d for d in _glob.glob(tgt + "__v*") if _os.path.isdir(d)]
    assert len(versions) <= 2, versions
    assert _os.path.islink(tgt)
    assert read_compacted_table(spark, tgt).count() == n_rows


def test_publish_version_retains_just_superseded(tmp_path):
    """ADVICE r10: retention must key on time-since-SUPERSEDE, not
    version-dir age. A version that was live for longer than
    retain_seconds used to be expired by the very next swap (its mtime
    meant 'created at'); publish_version now re-stamps the superseded
    dir at swap time, so a reader that pinned it moments ago is safe."""
    import glob
    import os
    import time

    from api_log_iceberg_test_spark.maintenance import publish_version

    root = str(tmp_path / "table")
    os.makedirs(root)
    with open(os.path.join(root, "a.parquet"), "w") as f:
        f.write("x")
    # the table has been live, untouched, far longer than retain_seconds
    old = time.time() - 3600
    os.utime(root, (old, old))

    def new_version(tag):
        d = str(tmp_path / f"table__v{tag}")
        os.makedirs(d)
        with open(os.path.join(d, f"{tag}.parquet"), "w") as f:
            f.write("x")
        os.utime(d, (old, old))  # creation long ago, like a long-lived version
        return d

    va = new_version("aaaa0001")
    publish_version(root, va, retain_seconds=60)  # migrates + swaps; stamps migrated dir
    migrated = [
        d
        for d in glob.glob(str(tmp_path / "table__v*"))
        if os.path.isdir(d) and d != va
    ]
    assert len(migrated) == 1
    vb = new_version("bbbb0002")
    publish_version(root, vb, retain_seconds=60)
    # the migrated dir was superseded seconds ago (though CREATED an hour
    # ago) — it must survive this swap's retention pass
    assert os.path.isdir(migrated[0]), "just-superseded version was rug-pulled"
    # and va (just replaced) is always kept
    assert os.path.isdir(va)
    assert os.path.realpath(root) == os.path.realpath(vb)


def _bucketed_events(spark, sf_dir, tgt):
    """events (event_id, event_type) written under tgt partitioned by
    _bucket = event_id mod 2, 8 small files; returns the row count."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    ev.withColumn("_bucket", F.pmod(F.col("event_id"), F.lit(2))).repartition(
        8
    ).write.partitionBy("_bucket").parquet(tgt)
    return ev.count()


def test_partition_compaction_keeps_whole_root_reads_clean(spark, sf_dir, tmp_path):
    """ADVICE r10: per-partition compaction must not leave version dirs
    INSIDE the table root — a whole-table read would see duplicate rows
    or parse '<part>__v1a2b' as a bogus partition value. A partition
    compaction publishes a whole table version like any other commit, so
    the live version holds only plain partition dirs and files."""
    import os

    from api_log_iceberg_test_spark.maintenance import compact_parquet_table

    tgt = str(tmp_path / "events_part")
    n_rows = _bucketed_events(spark, sf_dir, tgt)

    # compact one partition twice (second swap exercises retention too)
    compact_parquet_table(spark, tgt, target_file_size_bytes=1 << 16,
                          partition_subdir="_bucket=0")
    compact_parquet_table(spark, tgt, target_file_size_bytes=1 << 30,
                          partition_subdir="_bucket=0")

    # no symlink and no version or swap entry below the live version
    live = os.path.realpath(tgt)
    for dp, dirs, fs in os.walk(live):
        for e in dirs + fs:
            assert not os.path.islink(os.path.join(dp, e)), (dp, e)
            assert "__v" not in e and "__swap" not in e, (dp, e)

    # whole-root read: full row count, correct partition values, no dupes
    got = spark.read.parquet(tgt)
    assert got.count() == n_rows
    assert sorted(
        r["_bucket"] for r in got.select("_bucket").distinct().collect()
    ) == [0, 1]
    per_key = got.groupBy("event_id").count().filter(F.col("count") > 1).count()
    assert per_key == 0


def test_pinned_reader_survives_partition_compaction(spark, sf_dir, tmp_path):
    """A reader pinned by read_compacted_table keeps its rows when a
    partition compaction lands between open and scan, on the first and
    on a later compaction of the partition: the version it pinned is
    immutable and retained."""
    import os

    from api_log_iceberg_test_spark.maintenance import (
        compact_parquet_table,
        read_compacted_table,
    )

    # a versioned table, as commit_staged leaves it: the root is a
    # symlink to its one version dir
    tgt = str(tmp_path / "events_pinned")
    n_rows = _bucketed_events(spark, sf_dir, tgt + "__v00000000")
    os.symlink("events_pinned__v00000000", tgt)
    for target_size in (1 << 16, 1 << 30):
        pinned = read_compacted_table(spark, tgt)
        compact_parquet_table(spark, tgt, target_file_size_bytes=target_size,
                              partition_subdir="_bucket=0")
        assert pinned.count() == n_rows
        assert read_compacted_table(spark, tgt).count() == n_rows


def test_load_table_time_range_int96(spark, tmp_path):
    """INT96 timestamps read as timestamp[ns] in the pyarrow footer but as
    TimestampType in Spark: the time-range loader must filter them as
    timestamps, like a micros column, and leave them unconverted."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from api_log_iceberg_test_spark.schema import load_table_time_range

    ts = [dt.datetime(2024, 1, d, 12) for d in (1, 2, 3, 4)]
    path = tmp_path / "t.parquet" / "part-00000.parquet"
    path.parent.mkdir()
    pq.write_table(
        pa.table({"a": [1, 2, 3, 4], "ts": pa.array(ts, pa.timestamp("ns"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    got = load_table_time_range(
        spark, str(tmp_path), "t", "ts", lower="2024-01-01 12:00:00",
        upper="2024-01-03 12:00:00",
    )
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    assert sorted(r.a for r in got.collect()) == [2, 3]
    assert load_table(spark, str(tmp_path), "t").count() == 4


def test_load_table_rereads_rewritten_part_file(spark, tmp_path):
    """A directory table whose part file is rewritten in place with a new
    schema loads with the new schema. The directory's own stat does not
    change on such a rewrite, so load_table's metadata cache must key on
    the part files."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    before = load_table(spark, str(tmp_path), "t")
    assert before.columns == ["a", "b"]
    assert before.count() == 2

    dir_stat = part.parent.stat()
    ts = pa.array([dt.datetime(2024, 1, 2, 3, 4, 5)] * 3, pa.timestamp("ns"))
    pq.write_table(pa.table({"a": [1, 2, 3], "c": [0.5, 1.5, 2.5], "ts": ts}), part)
    assert part.parent.stat().st_mtime_ns == dir_stat.st_mtime_ns

    after = load_table(spark, str(tmp_path), "t")
    assert after.columns == ["a", "c", "ts"]
    assert after.schema["ts"].dataType.typeName() == "timestamp"
    rows = after.orderBy("a").collect()
    assert [r.c for r in rows] == [0.5, 1.5, 2.5]
    assert rows[0].ts == dt.datetime(2024, 1, 2, 3, 4, 5)


def _committed_api_table(spark, tmp_path) -> str:
    """A staged-ingest api-log table after one commit_staged: the root is
    a symlink to a version of ``_day=…`` partition dirs."""
    from api_log_iceberg_test_spark.generator import generate_api_logs
    from api_log_iceberg_test_spark.ingest import IngestConfig, commit_staged, start_staged_ingest
    from api_log_iceberg_test_spark.schema import API_LOG_SCHEMA

    src, tgt = str(tmp_path / "src"), str(tmp_path / "table" / "api")
    generate_api_logs(spark, 300, seed=3, span_days=2, num_partitions=2).write.parquet(src)
    stream = spark.readStream.schema(API_LOG_SCHEMA).parquet(src)
    config = IngestConfig(flush_count=100, checkpoint_dir=str(tmp_path / "ckpt"))
    start_staged_ingest(stream, tgt, config, available_now=True).awaitTermination(120)
    assert commit_staged(tgt) == 1
    return tgt


def _first_day(tgt: str) -> str:
    import os

    return sorted(d for d in os.listdir(os.path.realpath(tgt)) if d.startswith("_day="))[0]


def test_read_compacted_table_starts_no_job(spark, tmp_path):
    """Opening a committed table takes its schema from the footer Spark
    wrote, so it launches no schema-inference job."""
    from api_log_iceberg_test_spark.maintenance import read_compacted_table
    from tests.conftest import construction_jobs

    tgt = _committed_api_table(spark, tmp_path)
    assert construction_jobs(spark, "open-table", read_compacted_table, spark, tgt) == 0


def test_partition_compaction_starts_one_job(spark, tmp_path):
    """A partition compaction's only Spark job is its rewrite: the scope
    read takes its schema from the footer."""
    from api_log_iceberg_test_spark.maintenance import compact_parquet_table, read_compacted_table
    from tests.conftest import construction_jobs

    tgt = _committed_api_table(spark, tmp_path)
    day = _first_day(tgt)
    jobs = construction_jobs(
        spark, "compact-day", compact_parquet_table, spark, tgt, partition_subdir=day
    )
    assert jobs == 1
    assert read_compacted_table(spark, tgt).count() == 300


def test_footer_schema_read_equals_inferred_read(spark, tmp_path):
    """read_parquet gives the schema and rows that spark.read.parquet
    infers, on every table shape the package reads: a committed version
    with ``_day`` partition dirs, the same table after a partition and
    after a whole-table compaction (``_day`` becomes a data column), a
    rollup dir, every testdata table, and pyarrow-written files of every
    type the footer maps. Unsigned ints, durations and nanosecond
    timestamps below the top level have no exact mapping and take the
    inferring fallback."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from api_log_iceberg_test_spark.generator import generate_api_logs
    from api_log_iceberg_test_spark.maintenance import compact_parquet_table
    from api_log_iceberg_test_spark.schema import TESTDATA_TABLES, _footer, read_parquet
    from api_log_iceberg_test_spark.streaming.rollup import apply_rollup_batch
    from tests.conftest import SF0001

    def same(path: str) -> None:
        got, want = read_parquet(spark, path), spark.read.parquet(path)
        assert got.schema == want.schema, path
        # rows as strings: a map column can't take part in exceptAll
        rows = sorted(str(r) for r in got.collect())
        assert rows and rows == sorted(str(r) for r in want.collect()), path

    tgt = _committed_api_table(spark, tmp_path)
    same(os.path.realpath(tgt))
    assert read_parquet(spark, os.path.realpath(tgt)).schema["_day"].dataType.typeName() == "date"
    compact_parquet_table(spark, tgt, partition_subdir=_first_day(tgt))
    same(os.path.realpath(tgt))
    compact_parquet_table(spark, tgt)
    assert "_day" in _footer(os.path.realpath(tgt))[0].names
    same(os.path.realpath(tgt))

    rollup = str(tmp_path / "rollup")
    apply_rollup_batch(spark, generate_api_logs(spark, 200, seed=4), 0, rollup)
    same(rollup)

    for name in TESTDATA_TABLES:
        path = f"{SF0001}/{name}.parquet"
        assert _footer(path)[0] is not None, name
        same(path)

    plain = tmp_path / "plain"
    plain.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", None]}), plain / "part-0.parquet")
    assert _footer(str(plain))[0] is not None
    same(str(plain))

    def write(name: str, values, dtype, **kwargs) -> str:
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"c": pa.array(values, dtype)}), path, **kwargs)
        return path

    mapped = [
        write("i8", [1, None], pa.int8()),
        write("i16", [1, None], pa.int16()),
        write("i32", [1, None], pa.int32()),
        write("i64", [1, None], pa.int64()),
        write("f32", [1.5, None], pa.float32()),
        write("f64", [1.5, None], pa.float64()),
        write("bool", [True, None], pa.bool_()),
        write("str", ["a", None], pa.string()),
        write("large_str", ["a", None], pa.large_string()),
        write("bin", [b"a", None], pa.binary()),
        write("dict", ["a", "b"], pa.dictionary(pa.int32(), pa.string())),
        write("date", [1, None], pa.date32()),
        write("dec", [1, None], pa.decimal128(10, 2)),
        write("list", [[1, 2], None], pa.list_(pa.int64())),
        write("struct", [{"x": 1, "y": "a"}, None], pa.struct([("x", pa.int64()), ("y", pa.string())])),
        write("map", [[("a", 1)], None], pa.map_(pa.string(), pa.int64())),
    ]
    for unit in ("s", "ms", "us", "ns"):
        for tz in (None, "UTC"):
            mapped.append(write(f"ts_{unit}_{tz}", [1000, None], pa.timestamp(unit, tz)))
            mapped.append(
                write(
                    f"int96_{unit}_{tz}", [1000, None], pa.timestamp(unit, tz),
                    use_deprecated_int96_timestamps=True,
                )
            )
    for path in mapped:
        assert _footer(path)[0] is not None, path
        same(path)
    assert _footer(str(tmp_path / "ts_ns_None.parquet"))[1] == ("c",)
    assert _footer(str(tmp_path / "int96_ns_None.parquet"))[1] == ()

    inferred = [
        write("u8", [1], pa.uint8()),
        write("u64", [1], pa.uint64()),
        write("duration", [1], pa.duration("s")),
        write("struct_ns", [{"x": 1000}], pa.struct([("x", pa.timestamp("ns"))])),
        write("list_ns", [[1000]], pa.list_(pa.timestamp("ns"))),
    ]
    for path in inferred:
        assert _footer(path)[0] is None, path
        same(path)
