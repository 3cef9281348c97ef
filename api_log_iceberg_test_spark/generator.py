"""Synthetic api-log workload generator (reference G1-G3, SURVEY.md §2.6).

The reference generates load with serial ``mc`` shell commands using a
weighted ``RANDOM % 100`` ladder over nine S3 ops
(``generate-api-logs.sh:74-120``) and a continuous mode of 20 ops / 5 s
(``run.sh:320-404``). Spark-native restatement: the workload is *data*, so
generate it as a DataFrame — ``spark.range(n)`` plus seeded ``rand()``
driving a ``when``-ladder over the same cumulative weights. Fully
distributed (one narrow stage, no shuffle), deterministic per seed, and
scales to any row count: 100 TB of synthetic logs is just a bigger range
with more partitions.

The streaming variant wraps the same column logic around the ``rate``
source, matching the reference's continuous mode (4 ops/s default).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import API_LOG_COLUMNS, OP_WEIGHTS


def _op_name(r: Column) -> Column:
    """Cumulative-weight ladder (generate-api-logs.sh:74-120): r ∈ [0,1)."""
    expr = None
    acc = 0
    for name, weight in OP_WEIGHTS:
        acc += weight
        cond = r < (acc / 100.0)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(OP_WEIGHTS[-1][0])


def _with_log_columns(df: DataFrame, id_col: str, time_col: Column, seed: int) -> DataFrame:
    """Derive the 14 api-log columns from a numeric id + event time.

    All built-in expressions (rand/hash/when/format_string) — one narrow
    projection, codegen-friendly, no Python in the hot path.

    rand() columns are materialized ONCE via withColumn before any
    when-ladder references them: rand is non-deterministic, so Catalyst
    would otherwise re-evaluate it per `when` branch and skew the mix
    (caught by test_op_mix_weights).
    """
    df = (
        df.withColumn("_r_op", F.rand(seed))
        .withColumn("_r_status", F.rand(seed + 1))
        .withColumn("_r_lat", F.rand(seed + 2))
        .withColumn("_r_ttfb", F.rand(seed + 3))
    )
    r_op = F.col("_r_op")
    r_status = F.col("_r_status")
    r_lat = F.col("_r_lat")
    i = F.col(id_col)

    is_read = F.col("name").isin("ListObjectsV2", "GetObject", "HeadObject",
                                 "ListBuckets", "GetObjectTagging", "StatObject")
    is_write = F.col("name").isin("PutObject", "CopyObject")

    # Latency: log-uniform-ish 0.5ms..500ms; TTFB ≤ requestTime.
    req_ms = F.round(F.lit(0.5) * F.pow(F.lit(1000.0), r_lat), 2)
    ttfb_ms = F.round(req_ms * (F.lit(0.2) + F.lit(0.6) * F.col("_r_ttfb")), 2)

    df = (
        df.withColumn("time", time_col)
        .withColumn("name", _op_name(r_op))
        # ~5 distinct buckets, patterned like generate-api-logs.sh:59
        .withColumn("bucket", F.format_string("test-api-logs-%d", F.pmod(F.xxhash64(i), F.lit(5))))
        .withColumn(
            "object",
            F.when(F.col("name") == "ListBuckets", F.lit(""))
            .otherwise(F.format_string("object-%d.txt", F.pmod(F.xxhash64(i + 7), F.lit(1000)))),
        )
        # mostly 200; ~8% error tail split 404/403/500 (FIXTURES.md §1)
        .withColumn(
            "httpStatusCode",
            F.when(r_status < 0.92, 200)
            .when(r_status < 0.96, 404)
            .when(r_status < 0.98, 403)
            .otherwise(500)
            .cast("int"),
        )
        .withColumn(
            "inputBytes",
            F.when(is_write, (F.pmod(F.xxhash64(i + 11), F.lit(90)) + 10)).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "outputBytes",
            F.when(is_read, (F.pmod(F.xxhash64(i + 13), F.lit(4096)) + 64)).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn("requestTime", F.concat(req_ms.cast("string"), F.lit("ms")))
        .withColumn("timeToFirstByte", F.concat(ttfb_ms.cast("string"), F.lit("ms")))
        .withColumn("sourceHost", F.format_string("10.0.0.%d", F.pmod(F.xxhash64(i + 17), F.lit(8)) + 1))
        .withColumn(
            "userAgent",
            F.element_at(
                F.array(
                    F.lit("MinIO (linux; amd64) minio-go/v7.0.70 mc/RELEASE.2024"),
                    F.lit("MinIO (linux; amd64) minio-go/v7.0.70"),
                    F.lit("aws-sdk-go/1.44.0"),
                ),
                (F.pmod(F.xxhash64(i + 19), F.lit(3)) + 1).cast("int"),
            ),
        )
        .withColumn(
            "accessKey",
            F.when(F.pmod(F.xxhash64(i + 23), F.lit(10)) < 8, "minioadmin").otherwise("svc-analytics"),
        )
        .withColumn("requestId", F.lower(F.hex(F.xxhash64(i, F.lit(seed)))))
        .withColumn("node", F.format_string("minio%d", F.pmod(F.xxhash64(i + 29), F.lit(4)) + 1))
    )
    return df.select(*API_LOG_COLUMNS)


def generate_api_logs(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    span_days: int = 7,
    num_partitions: int | None = None,
) -> DataFrame:
    """Batch generator (reference G1): n weighted random api-log rows.

    Event time is monotonic-ish across ``span_days`` from 2024-01-01
    00:00:00 UTC with per-row jitter, so
    ``days(time)`` partitioning yields >1 partition and time-range predicates
    prune (FIXTURES.md §1). Deterministic per (n_rows, seed).
    """
    df = spark.range(0, n_rows, numPartitions=num_partitions)
    span_secs = span_days * 86400
    # the start is defined as UTC: resolve it to an epoch DRIVER-side so the
    # result never depends on spark.sql.session.timeZone (a string→timestamp
    # cast in the plan would shift by the stock session's zone offset —
    # review finding; load_table pins UTC for reads, the generator must be
    # equally session-independent for writes)
    from datetime import datetime, timezone

    start_epoch = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
    # monotonic base + up to ±30 s jitter → a few out-of-order rows for
    # late-data tests, like real multi-node log arrival.
    offset = (F.col("id") / F.lit(max(n_rows - 1, 1))) * F.lit(span_secs)
    jitter = (F.rand(seed + 31) - 0.5) * 60.0
    time_col = F.timestamp_seconds(F.lit(start_epoch) + offset + jitter)
    return _with_log_columns(df, "id", time_col, seed)


def generate_api_logs_stream(spark: SparkSession, rows_per_second: int = 4) -> DataFrame:
    """Streaming generator (reference G2: 20 ops / 5 s ≈ 4 ops/s).

    ``rate`` source → same column derivation; plug into
    :func:`api_log_iceberg_test_spark.ingest.start_ingest`.
    """
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .withColumnRenamed("value", "id")
    )
    return _with_log_columns(df, "id", F.col("timestamp"), 42)
