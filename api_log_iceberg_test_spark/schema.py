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


def _maps_exactly(at) -> bool:
    """Whether ``from_arrow_type(at, prefer_timestamp_ntz=True)`` is the
    type Spark's inference reads for a parquet column pyarrow reads as
    ``at``. False for what the two map differently: unsigned ints
    (widened by Spark), nanosecond timestamps (int64 under
    ``nanosAsLong``), durations (plain int64 to Spark) and every type
    no test compares."""
    import pyarrow.types as pat

    if pat.is_dictionary(at):
        return _maps_exactly(at.value_type)
    if pat.is_struct(at) or pat.is_list(at) or pat.is_large_list(at) or pat.is_map(at):
        return all(_maps_exactly(at.field(i).type) for i in range(at.num_fields))
    if pat.is_timestamp(at):
        return at.unit != "ns"
    return any(
        is_type(at)
        for is_type in (
            pat.is_boolean, pat.is_signed_integer, pat.is_float32, pat.is_float64,
            pat.is_decimal128, pat.is_string, pat.is_large_string, pat.is_binary,
            pat.is_large_binary, pat.is_date32,
        )
    )


def _footer(path: str):
    """(Spark's read schema of ``path``, from the footer of its first data
    file, or None when the footer has no exact mapping; the names of its
    top-level parquet TIMESTAMP(NANOS) columns). One driver-side footer
    read, O(1) in the data size.

    A file Spark wrote carries its schema under ``_SPARK_SCHEMA_KEY``. Any
    other file maps to the schema Spark's inference reads from the same
    footer: naive timestamps are TimestampNTZType, INT96 ones
    TimestampType, and top-level nanos are LongType — Spark 4 can't map
    nanos to a timestamp; with ``spark.sql.legacy.parquet.nanosAsLong=true``
    they surface as ns since epoch and :func:`load_table` converts them to
    microsecond timestamps. Nanos or INT96 below the top level, and every
    type :func:`_maps_exactly` rejects, leave the schema to inference."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    first = _first_data_file(path)
    if first is None:
        return None, ()
    footer = pq.read_metadata(first)
    meta = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if meta:
        return T.StructType.fromJson(json.loads(meta)), ()
    leaves = map(footer.schema.column, range(len(footer.schema)))
    int96 = {c.path for c in leaves if c.physical_type == "INT96"}
    fields, nanos, exact = [], [], True
    for f in footer.schema.to_arrow_schema():
        if f.name in int96:
            dtype = T.TimestampType()
        elif str(f.type).startswith("timestamp[ns"):
            dtype = T.LongType()
            nanos.append(f.name)
        elif _maps_exactly(f.type) and not any(p.startswith(f.name + ".") for p in int96):
            dtype = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        else:
            exact = False
            continue
        fields.append(T.StructField(f.name, dtype))
    return (T.StructType(fields) if exact else None), tuple(nanos)


def _scan(spark, path: str, schema):
    """``spark.read.parquet(path)``, with ``schema`` when there is one:
    Spark then skips its one-task schema-inference job. It still lists
    ``path`` and infers partition columns (``_day=…`` dirs) from it."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_parquet(spark, path: str):
    """A DataFrame over the parquet table at ``path``, with the schema
    taken from the footer of its first data file, so that opening the
    table launches no Spark job (a table format keeps this schema in its
    metadata; a plain parquet dir keeps it in every footer). A footer
    with no exact mapping is read with inference."""
    return _scan(spark, path, _footer(path)[0])


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
    schema, ns_cols = _footer(path)
    return _scan(spark, path, schema), ns_cols


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
