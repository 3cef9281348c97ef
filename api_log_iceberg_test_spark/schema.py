"""Schemas.

The reference's one fact table is ``aistor.logs.api`` with a fixed,
system-defined 14-column flat schema (reference ``README.md:172-189``;
SURVEY.md §1.2). camelCase column names are load-bearing — the reference's
Trino queries use them verbatim (README.md:145,163).

``requestTime`` / ``timeToFirstByte`` are *strings* holding durations like
``"4.21ms"`` (README.md:183-184); parsing to milliseconds is a derived
operation (see :mod:`api_log_iceberg_test_spark.functions`), never stored.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Reference README.md:174-189, in documented column order.
API_LOG_SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType(), nullable=False),
        T.StructField("name", T.StringType(), nullable=False),
        T.StructField("bucket", T.StringType(), nullable=True),
        T.StructField("object", T.StringType(), nullable=True),
        T.StructField("httpStatusCode", T.IntegerType(), nullable=False),
        T.StructField("inputBytes", T.LongType(), nullable=False),
        T.StructField("outputBytes", T.LongType(), nullable=False),
        T.StructField("requestTime", T.StringType(), nullable=False),
        T.StructField("timeToFirstByte", T.StringType(), nullable=False),
        T.StructField("sourceHost", T.StringType(), nullable=True),
        T.StructField("userAgent", T.StringType(), nullable=True),
        T.StructField("accessKey", T.StringType(), nullable=True),
        T.StructField("requestId", T.StringType(), nullable=False),
        T.StructField("node", T.StringType(), nullable=False),
    ]
)

API_LOG_COLUMNS = [f.name for f in API_LOG_SCHEMA.fields]

#: The nine S3 op kinds and their workload weights
#: (reference generate-api-logs.sh:74-120). Cumulative `RANDOM % 100` ladder.
OP_WEIGHTS: list[tuple[str, int]] = [
    ("ListObjectsV2", 30),
    ("GetObject", 25),
    ("HeadObject", 20),
    ("PutObject", 10),
    ("CopyObject", 5),
    ("DeleteObject", 5),
    ("ListBuckets", 2),
    ("GetObjectTagging", 2),
    ("StatObject", 1),
]

assert sum(w for _, w in OP_WEIGHTS) == 100

#: Driver testdata tables (TESTDATA.md) — TPC-H-ish star schema + events +
#: extension tables. The reference's `api` table has no parquet fixture, so
#: its query shapes are exercised against `events` (FIXTURES.md §1) and
#: against generator output in unit tests.
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: Footer key under which Spark stores the row schema of a file it wrote,
#: as StructType JSON.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """``path`` if it is a file, else the first ``*.parquet`` of a sorted
    top-down walk under it that Spark's file index would also read (no
    ``_``/``.`` name, no hidden dir that is not a ``k=v`` partition);
    None when there is none (an empty dir, a glob, a remote URI)."""
    import os

    if os.path.isfile(path):
        return path
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(
            d for d in dirnames
            if not d.startswith(".") and not (d.startswith("_") and "=" not in d)
        )
        for name in sorted(filenames):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                return os.path.join(dirpath, name)
    return None


def _footer(path: str):
    """(Spark's StructType from the footer of ``path``'s first data file,
    or None when Spark did not write it; the names of its parquet
    TIMESTAMP(NANOS) columns). One driver-side footer read, O(1) in the
    data size.

    Spark 4 can't map nanos to TimestampType; with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as LongType
    (ns since epoch) and :func:`load_table` converts them to microsecond
    timestamps."""
    import json

    import pyarrow.parquet as pq

    first = _first_data_file(path)
    if first is None:
        return None, ()
    footer = pq.read_schema(first)
    meta = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    schema = T.StructType.fromJson(json.loads(meta)) if meta else None
    nanos = tuple(f.name for f in footer if str(f.type).startswith("timestamp[ns"))
    return schema, nanos


def _scan(spark, path: str, schema):
    """``spark.read.parquet(path)``, with ``schema`` when there is one:
    Spark then skips its one-task schema-inference job. It still lists
    ``path`` and infers partition columns (``_day=…`` dirs) from it."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_parquet(spark, path: str):
    """A DataFrame over the parquet table at ``path``, with the schema
    taken from the footer Spark wrote into its first data file, so that
    opening the table launches no Spark job (a table format keeps this
    schema in its metadata; a plain parquet dir keeps it in every
    footer). A table Spark did not write is read with inference."""
    return _scan(spark, path, _footer(path)[0])


def _file_signature(path: str) -> tuple | None:
    """What a rewrite of ``path`` changes: a file's (mtime_ns, size); for a
    directory, the (relative name, mtime_ns, size) of every file under it
    (an in-place part-file rewrite leaves the directory's own stat alone).
    None when the path can't be listed (a glob, a remote URI)."""
    import os

    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        sig = []
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            for name in sorted(filenames):
                full = os.path.join(dirpath, name)
                st = os.stat(full)
                sig.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
        return tuple(sig)
    except OSError:
        return None


def load_table_time_range(
    spark,
    sf_dir: str,
    name: str,
    time_col: str,
    lower: str | None = None,
    upper: str | None = None,
):
    """Read a table with a time-range predicate that actually pushes down.

    For nanos-stored timestamp columns, a filter on the *converted* column
    (``timestamp_micros(ts div 1000) > T``) cannot reach the Parquet scan —
    Catalyst can't invert the conversion — so row-group pruning is lost.
    This helper applies the equivalent raw int64-nanos predicate *before*
    conversion; ``.explain`` then shows ``PushedFilters: [GreaterThan(ts,...)]``
    and at 100 TB the scan skips every row group outside the range.
    Non-nanos columns just filter on the timestamp directly (already
    pushable).
    """
    import datetime as dt

    from pyspark.sql import functions as F

    df, ns_cols = _read_parquet(spark, f"{sf_dir}/{name}.parquet")

    def to_ns(ts_str: str) -> int:
        d = dt.datetime.fromisoformat(ts_str).replace(tzinfo=dt.timezone.utc)
        return int(d.timestamp() * 1_000_000) * 1000

    if time_col in ns_cols:
        if lower is not None:
            df = df.filter(F.col(time_col) > F.lit(to_ns(lower)))
        if upper is not None:
            df = df.filter(F.col(time_col) <= F.lit(to_ns(upper)))
    else:
        if lower is not None:
            df = df.filter(F.col(time_col) > F.to_timestamp(F.lit(lower)))
        if upper is not None:
            df = df.filter(F.col(time_col) <= F.to_timestamp(F.lit(upper)))
    return _nanos_to_micros(df, ns_cols)


def fan_out(df):
    """Round-robin repartition ONLY when the scan yields fewer partitions
    than cores (``defaultParallelism``).

    Compute-heavy narrow projections (regex token metrics, shingling) are
    otherwise bound to the scan's task count — a single-file, single-row-
    group input runs them on ONE core regardless of cluster size. When the
    scan is already wide (the 100 TB case: thousands of files/row groups),
    this is a no-op, so the extra exchange never appears in at-scale plans.
    Row order within partitions changes, so callers must be order-
    insensitive past this point (aggregates/sorted outputs — true for every
    registered query).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_rows_df(spark, rows, schema):
    """Small driver-local row list as a DataFrame, via the Arrow path.

    ``spark.createDataFrame(list)`` parallelizes PICKLED Python rows over
    ``defaultParallelism`` slices: every downstream action then runs that
    many Python-worker tasks just to deserialize a handful of rows
    (~0.4 s per action on local[32], measured; at cluster scale the same
    tasks serialize behind executor round-trips — optimization guide §4:
    keep the Python boundary off the query path). Routing the same rows
    through a pandas DataFrame takes Spark's Arrow converter instead: the
    rows ship as Arrow batches decoded JVM-side, no Python worker at
    execution time (~0.07 s per action, measured). Values, column names
    and declared types are identical on both paths (verified for
    long/int/double/string/boolean row shapes).

    Falls back to the plain path when pandas cannot represent the rows
    faithfully: an empty list, or a None anywhere (pandas would coerce a
    numeric column with None to float64/NaN — a silent type change).
    """
    # ADVICE r15: normalize up front — the any() None-scan below would
    # partially consume a generator input, silently truncating the frame.
    rows = list(rows)
    if rows and not any(v is None for r in rows for v in r):
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame(rows), schema=schema)
    return spark.createDataFrame(rows, schema)


#: path → (file signature, Spark read schema, nanos column names) for
#: tables whose footer holds no Spark schema (the pandas-written testdata)
#: — metadata only, never data. spark.read.parquet() without a schema runs
#: a one-task schema-inference job at DataFrame CONSTRUCTION time; a
#: 6-table join query paid six such jobs (~0.3-0.5 s of pure scheduling at
#: bench scale, and six driver round-trips on a real cluster) before any
#: computation started. Passing the cached StructType via .schema(...)
#: skips inference, and the footer read is skipped with it. An entry is
#: used only while the path's signature (_file_signature) is unchanged, so
#: a rewritten file or part file is re-inferred; a path without a signature
#: is never cached. The cached schema is exactly what inference returned,
#: so plans are byte-identical. A Spark-written table needs no entry: its
#: footer schema is what inference would read.
_table_meta: dict[str, tuple] = {}


def _read_parquet(spark, path: str):
    """(DataFrame over ``path``, the TIMESTAMP(NANOS) columns it surfaces
    as int64 nanoseconds).

    The caller may hand us a stock SparkSession (the driver does). Both
    confs are runtime-settable SQL confs and required for correct reads:
    nanos parquet timestamps otherwise abort the scan (PARQUET_TYPE_ILLEGAL)
    and non-UTC session timezones skew timestamp comparisons vs the oracle.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sig = _file_signature(path)
    hit = _table_meta.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path), hit[2]
    spark_schema, nanos = _footer(path)
    df = _scan(spark, path, spark_schema)
    # INT96 timestamps also read as timestamp[ns] in the pyarrow footer,
    # but Spark maps them to TimestampType directly: only the columns the
    # scan surfaces as long are nanos
    ns_cols = tuple(c for c in nanos if df.schema[c].dataType.typeName() == "long")
    if sig is not None and spark_schema is None:
        _table_meta[path] = (sig, df.schema, ns_cols)
    return df, ns_cols


def load_table(spark, sf_dir: str, name: str):
    """Read one driver testdata table as a DataFrame.

    Nanosecond parquet timestamps are converted to Spark TimestampType
    (microseconds, truncating) so event-time semantics match the DuckDB
    oracle, which also compares at µs after canonicalization.
    """
    return _nanos_to_micros(*_read_parquet(spark, f"{sf_dir}/{name}.parquet"))


def _nanos_to_micros(df, ns_cols):
    """``df`` with each int64-nanos column of ``_read_parquet`` converted
    to a microsecond TimestampType (truncating)."""
    from pyspark.sql import functions as F

    for col in ns_cols:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df
