"""The three benchmark workloads and the run state they share.

Every workload runs in one process as one closed-loop client: an
operation starts only after the previous one returned. Each operation is
timed end to end (``time.perf_counter``) and recorded as a sample under
its name; the first sample of a name is its cold execution, the rest are
steady. Answers are checked after the timed region, against DuckDB.

Set-up is timed apart from the workload: :func:`set_up` builds the
session SETUP_REPEATS times (the first build also launches the JVM) and
``setup_s`` is the median set-up.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from dataclasses import dataclass, field

import inputs
from spans import READ_SHAPES, Tracer

#: Query workloads, pinned by name and resolved against
#: ``__spark_entry__.queries()`` at start. Each list is a budget-sized cut
#: of its family, so that one run stays under a minute on a 4-core host:
#: three reference-surface shapes, TPC-H Q1 and the rewritten Q9, three of
#: the sub-second analytics queries the AQE partition floor slowed, and
#: one SQL-surface query; for curation, the label-propagation graph loop
#: (construction-bound: eager checkpoint jobs), exact n-gram dedup
#: (executor-bound) and the Arrow/numpy ANN path (Python workers).
LOG_ANALYTICS = [
    "q_count",
    "q_frequency_by_name",
    "q_error_analysis",
    "q_pricing_summary",
    "q_product_profit",
    "q_funnel_conversion",
    "q_retention_cohorts",
    "q_anomaly_mad",
    "q_sql_grouping_sets",
]
CURATION = [
    "q_dedup_ngram_jaccard",
    "q_label_propagation",
    "q_ann_cosine_topk_np",
]

#: lakehouse_ingest: rows per landing batch, batches (= rounds), flush
#: count (the reference's small-file factory), the days the batches span,
#: and the time-range read's lower bound.
BATCH_ROWS = 25_000
ROUNDS = 3
FLUSH_COUNT = 1_000
SPAN_DAYS = 4
RANGE_LOWER = "2024-01-04 12:00:00"

#: Set-ups per run; ``setup_s`` is their median.
SETUP_REPEATS = 3
#: Steady passes per ``--seconds``: the pass count follows from the run
#: length alone, so every run of a workload does the same work.
SECONDS_PER_PASS = 2.5
#: Constant-cost host probe (bench.py's calibration query at an eighth of
#: its row count), timed at the start and the end of the steady region.
CALIB_ROWS = 32_000_000


@dataclass
class Run:
    """State of one benchmark run: samples, failures, extra metrics."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: workload-specific end-to-end metrics: name → (value, unit)
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)
    meta: dict = field(default_factory=dict)

    @property
    def passes(self) -> int:
        return max(2, round(self.seconds / SECONDS_PER_PASS))

    def calibrate(self, key: str, reps: int) -> None:
        """Record the fastest of the last two of ``reps`` probes (the first
        probes of a session also pay JIT compilation) and the loadavg."""
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.spark.range(CALIB_ROWS, numPartitions=16).selectExpr(
                "sum(pmod(xxhash64(id), 1000003))"
            ).collect()
            times.append(time.perf_counter() - t0)
        self.meta[f"calib_{key}_s"] = min(times[-2:])
        self.meta[f"loadavg_{key}"] = os.getloadavg()[0]

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=3).strip()}")

    def timed(self, op: str, fn) -> float | None:
        """Run ``fn``; record its wall time under ``op``, or a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:  # noqa: BLE001 — a failing operation is a result, not a crash
            self.fail(op)
            return None
        wall = time.perf_counter() - t0
        self.samples.setdefault(op, []).append(wall)
        return wall

    def check(self, what: str, fn) -> None:
        """Run an answer check; a returned error list or an exception fails it."""
        self.attempted += 1
        try:
            errs = fn()
        except Exception:  # noqa: BLE001
            self.fail(f"check {what}")
            return
        if errs:
            self.failed += 1
            self.errors.append(f"check {what}: {errs}")


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def resolve(names: list[str]) -> dict:
    """Name → builder from ``__spark_entry__.queries()``; a missing name fails."""
    import __spark_entry__ as em

    qs = em.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"workload names missing from __spark_entry__.queries(): {missing}")
    return {n: qs[n] for n in names}


# ---------------------------------------------------------------------------
# Set-up: session build, warm-up job and, for lakehouse_ingest, the landing
# batches
# ---------------------------------------------------------------------------


def set_up(build, tracer: Tracer, work: str, seed: int, ingest: bool):
    """Set up SETUP_REPEATS times; returns the last session and each set-up's
    seconds. ``build()`` makes a session; every set-up but the last stops it."""
    times = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = build()
        tracer.bind(spark)
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM and codegen warm-up
        if ingest:
            generate_landing(spark, tracer, os.path.join(work, f"landing{k}"), seed, k)
        times.append(time.perf_counter() - t0)
        if k < SETUP_REPEATS - 1:
            spark.stop()
    return spark, times


# ---------------------------------------------------------------------------
# log_analytics and curation: registered queries over the seeded sf0.01 tables
# ---------------------------------------------------------------------------


def setup_queries(run: Run) -> None:
    """Write the seeded input tables (not timed: the program does not run here)."""
    run.meta["input_rows"] = inputs.write_inputs(os.path.join(run.work, "data"), run.seed)


def run_queries(run: Run, names: list[str]) -> None:
    builders = resolve(names)
    sf_dir = os.path.join(run.work, "data")
    spark, tracer = run.spark, run.tracer
    order_rng = random.Random(run.seed)
    run.meta["orders"] = []

    def execute(name: str, pass_no: int) -> None:
        exec_id = f"{name}#{pass_no}"

        def body():
            with tracer.span("query", exec_id, {"query": name, "pass_no": pass_no}):
                with tracer.span("construct", exec_id):
                    df = builders[name](spark, sf_dir)
                with tracer.span("action", exec_id):
                    noop(df)

        run.timed(name, body)

    def order() -> list[str]:
        names_in_order = order_rng.sample(names, len(names))
        run.meta["orders"].append(names_in_order)
        return names_in_order

    for name in order():  # cold: first execution of each query in this session
        execute(name, 0)
    # The answers are checked in the pass after the cold one, which is not
    # timed: the JIT is still compiling the queries' code paths then, and
    # without this pass the first steady pass ran up to a third slower
    # than the later ones.
    check_queries(run, builders, sf_dir, order())
    run.calibrate("start", 3)
    for pass_no in range(1, run.passes + 1):
        for name in order():
            execute(name, pass_no)
    run.calibrate("end", 2)


def check_queries(run: Run, builders: dict, sf_dir: str, names: list[str]) -> None:
    """Each query once more, compared with its DuckDB oracle (or, without
    an oracle, required to return rows)."""
    import __spark_entry__ as em
    from tests.oracle import compare, duckdb_conn

    oracles = em.oracle_sql()
    con = duckdb_conn(sf_dir)
    try:
        for name in names:
            def answer(name=name):
                df = builders[name](run.spark, sf_dir)
                if name in oracles:
                    return compare(df, con.execute(oracles[name]).fetchdf(), name)
                return [] if df.count() > 0 else [f"{name}: no rows"]

            run.check(name, answer)
    finally:
        con.close()


# ---------------------------------------------------------------------------
# lakehouse_ingest: generator → staged flush → commit → reads → compaction
# ---------------------------------------------------------------------------


def _parquet_files(root: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root, followlinks=True)
        for f in fs
        if f.endswith(".parquet")
    ]


def generate_landing(spark, tracer: Tracer, out: str, seed: int, k: int) -> None:
    """Write ROUNDS seeded landing batches with the package's generator."""
    from pyspark.sql import functions as F

    from api_log_iceberg_test_spark.generator import generate_api_logs

    with tracer.span("generator", f"setup{k}", {"rows": BATCH_ROWS * ROUNDS}):
        df = generate_api_logs(spark, BATCH_ROWS * ROUNDS, seed=seed, span_days=SPAN_DAYS, num_partitions=4)
        batch = F.pmod(F.xxhash64("requestId"), F.lit(ROUNDS))
        df.withColumn("_batch", batch).write.partitionBy("_batch").parquet(out)


def _duck_reads(table: str) -> dict[str, str]:
    """DuckDB SQL for each read shape over ``table``."""
    return {
        "count_all": f"SELECT COUNT(*) AS cnt FROM {table}",
        "frequency_by": (
            f"SELECT name, COUNT(*) AS cnt FROM {table} GROUP BY name ORDER BY cnt DESC, name"
        ),
        "error_analysis": (
            f'SELECT name, "httpStatusCode", COUNT(*) AS cnt FROM {table} '
            f'WHERE "httpStatusCode" >= 400 GROUP BY ALL ORDER BY cnt DESC, name'
        ),
        "time_range_scan": f"SELECT * FROM {table} WHERE time > TIMESTAMP '{RANGE_LOWER}'",
        "recent_top_k": (
            f"SELECT time, name, bucket, object FROM {table} ORDER BY time DESC LIMIT 20"
        ),
    }


def _spark_read(spark, target: str, shape: str):
    from api_log_iceberg_test_spark.maintenance import read_compacted_table
    from api_log_iceberg_test_spark.queries import api_logs
    from api_log_iceberg_test_spark.schema import API_LOG_COLUMNS

    df = read_compacted_table(spark, target).select(*API_LOG_COLUMNS)
    if shape == "count_all":
        return api_logs.count_all(df)
    if shape == "frequency_by":
        return api_logs.frequency_by(df, "name")
    if shape == "error_analysis":
        return api_logs.error_analysis(df, "httpStatusCode", ["name", "httpStatusCode"])
    if shape == "time_range_scan":
        return api_logs.time_range_scan(df, "time", RANGE_LOWER)
    return api_logs.recent_top_k(df, "time", ["time", "name", "bucket", "object"], 20)


def run_ingest(run: Run) -> None:
    import duckdb
    import pyarrow.parquet as pq

    from api_log_iceberg_test_spark.ingest import IngestConfig, commit_staged, staging_dir, start_staged_ingest
    from api_log_iceberg_test_spark.maintenance import compact_parquet_table
    from api_log_iceberg_test_spark.schema import API_LOG_SCHEMA
    from tests.oracle import compare

    spark, tracer = run.spark, run.tracer
    landing = os.path.join(run.work, f"landing{SETUP_REPEATS - 1}")
    src = os.path.join(run.work, "stream_src")
    target = os.path.join(run.work, "table", "api")
    os.makedirs(src)
    os.makedirs(os.path.dirname(target))
    config = IngestConfig(flush_count=FLUSH_COUNT, checkpoint_dir=os.path.join(run.work, "ckpt"))
    con = duckdb.connect()
    landing_sql = f"read_parquet('{os.path.join(src, '*.parquet')}')"

    def live_rows() -> int:
        files = _parquet_files(os.path.realpath(target))
        return con.execute(f"SELECT COUNT(*) FROM read_parquet({files!r})").fetchone()[0]

    def reads(prefix: str, exec_id: str, phase: str) -> None:
        for shape in READ_SHAPES:
            def body(shape=shape):
                with tracer.span("api_logs.read", exec_id, {"shape": shape, "phase": phase}):
                    noop(_spark_read(spark, target, shape))

            run.timed(f"{prefix}.{shape}", body)

    def check_reads(phase: str) -> None:
        sql = _duck_reads(landing_sql)
        for shape in READ_SHAPES:
            run.check(
                f"{phase}.{shape}",
                lambda shape=shape: compare(
                    _spark_read(spark, target, shape), con.execute(sql[shape]).fetchdf(), shape
                ),
            )

    rows_exposed = 0
    freshness, write_s = [], []
    for i in range(ROUNDS):
        exec_id = f"round{i}"
        batch_dir = os.path.join(landing, f"_batch={i}")
        files = sorted(f for f in os.listdir(batch_dir) if f.endswith(".parquet"))
        rows_exposed += sum(pq.ParquetFile(os.path.join(batch_dir, f)).metadata.num_rows for f in files)
        exposed_at = time.perf_counter()
        for f in files:
            os.rename(os.path.join(batch_dir, f), os.path.join(src, f"b{i}-{f}"))

        flushed, committed = {}, {}  # per-layer counts, taken outside the timed calls

        def flush():
            with tracer.span("ingest.flush", exec_id, flushed):
                stream = spark.readStream.schema(API_LOG_SCHEMA).parquet(src)
                q = start_staged_ingest(stream, target, config, available_now=True)
                flushed["stream_run_id"] = str(q.runId)
                q.awaitTermination(120)
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))

        def commit():
            with tracer.span("ingest.commit", exec_id, committed):
                if commit_staged(target) < 1:
                    raise RuntimeError("commit_staged published no batch")

        t_flush = run.timed("flush", flush)
        if tracer.enabled:
            staged = _parquet_files(staging_dir(target))
            flushed.update(files_staged=len(staged), bytes_staged=sum(map(os.path.getsize, staged)))
        t_commit = run.timed("commit", commit)
        if t_flush is not None and t_commit is not None:
            freshness.append(time.perf_counter() - exposed_at)
            write_s.append(t_flush + t_commit)
        if tracer.enabled:
            committed["files_linked"] = len(_parquet_files(os.path.realpath(target)))
        run.check(
            f"{exec_id}.rows",
            lambda: [] if live_rows() == rows_exposed else [f"{live_rows()} != {rows_exposed}"],
        )
        reads("read", exec_id, "pre")
        if i == 0:
            run.calibrate("start", 3)
    check_reads("read")

    days = sorted(d for d in os.listdir(os.path.realpath(target)) if d.startswith("_day="))
    for day in days:
        part = os.path.join(os.path.realpath(target), day)
        counts = {"files_before": len(_parquet_files(part))}

        def compact(day=day, counts=counts):
            with tracer.span("maintenance.compact", "compact", counts):
                compact_parquet_table(spark, target, partition_subdir=day)

        run.timed("compact", compact)
        after = _parquet_files(part)
        counts.update(files_after=len(after), bytes_rewritten=sum(map(os.path.getsize, after)))
    run.check("compacted.rows", lambda: [] if live_rows() == rows_exposed else ["row count changed"])

    for k in range(run.passes):
        reads("read_compacted", f"compacted{k}", "post")
    run.calibrate("end", 2)
    check_reads("read_compacted")

    live = _parquet_files(os.path.realpath(target))
    pre = [t for s in READ_SHAPES for t in run.samples.get(f"read.{s}", [])]
    post = [t for s in READ_SHAPES for t in run.samples.get(f"read_compacted.{s}", [])]
    run.extra.update(
        freshness_p50_s=(statistics.median(freshness), "s"),
        ingest_rows_per_s=(rows_exposed / sum(write_s), "rows/s"),
        read_p50_s=(statistics.median(pre), "s"),
        read_compacted_p50_s=(statistics.median(post), "s"),
        compact_s=(sum(run.samples.get("compact", [])), "s"),
        stored_bytes_per_row=(sum(os.path.getsize(f) for f in live) / rows_exposed, "B/row"),
    )
    run.meta.update(rows_committed=rows_exposed, live_files=len(live))
    con.close()
