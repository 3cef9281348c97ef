"""Log-record sources beyond Parquet: JSON-lines and CSV, batch + streaming.

The reference's pipeline receives log records from the serving node's
in-process buffer (README.md:193-202) — an implementation detail of the
closed MinIO binary. Real deployments of a log-analytics engine also ingest
from shipped files: JSONL (the de-facto log-shipping format) and CSV
exports. These readers bind the reference's fixed 14-column schema
(schema.py, README.md:174-189) to those formats with production failure
semantics:

- **Explicit schema, never inference.** Schema inference is a full extra
  pass over the data (prohibitive at scale) and non-deterministic under
  drift; the reference's schema is fixed and system-defined.
- **PERMISSIVE + corrupt-record capture.** A malformed line lands in
  ``_corrupt_record`` instead of failing the job; at 100 TB there WILL be
  torn/garbled lines, and poisoning a multi-hour job on one of them is
  wrong. :func:`corrupt_records` / :func:`valid_records` split the result
  for quarantine-vs-load routing.
- **Streaming variants** return unbounded DataFrames for
  :func:`api_log_iceberg_test_spark.ingest.start_ingest` — same schema, so
  the whole ingest pipeline is source-format-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import API_LOG_COLUMNS, API_LOG_SCHEMA

_CORRUPT = "_corrupt_record"

#: Reader schema = log schema + the corrupt-record capture column.
_READ_SCHEMA = T.StructType(
    list(API_LOG_SCHEMA.fields) + [T.StructField(_CORRUPT, T.StringType(), True)]
)

#: ISO-8601 with microseconds, UTC — matches the generator's timestamps and
#: the reference's Trino timestamp literal format.
_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


#: from_json/from_csv parse options (PERMISSIVE + corrupt capture).
_PARSE_OPTS = {
    "mode": "PERMISSIVE",
    "columnNameOfCorruptRecord": _CORRUPT,
    "timestampFormat": _TS_FORMAT,
}


def _parse_json_lines(lines: DataFrame) -> DataFrame:
    """text scan → from_json with corrupt capture.

    Parsing OVER a text scan (instead of the raw .json reader) matters:
    Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN rule forbids any raw-file-scan
    query whose pruned schema is just ``_corrupt_record`` — which is
    exactly what a quarantine count() is — unless the input is cached.
    A text scan has no such rule, so the valid/corrupt splits below are
    plain filters with NO hidden materialization, batch and streaming
    alike (review finding: the previous design cache()d the caller's whole
    input inside corrupt_records()).
    """
    parsed = F.from_json(F.col("value"), _READ_SCHEMA, _PARSE_OPTS)
    return lines.select(parsed.alias("r")).select("r.*")


def read_jsonl_logs(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read JSON-lines api-log records.

    Malformed lines surface as rows where every schema column is NULL and
    ``_corrupt_record`` holds the raw line (PERMISSIVE semantics).
    """
    return _parse_json_lines(spark.read.text(path))


def read_csv_logs(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read headed CSV api-log records (explicit schema, no inference).

    CSV cannot distinguish NULL from empty string natively; ``\\N`` (the
    classic mysqldump/Hive convention) is the NULL sentinel — the writer
    must use the same sentinel for faithful round-trips.
    """
    opts = {**_PARSE_OPTS, "nullValue": r"\N"}
    # text-scan parsing sees the header as data; drop the exact line
    lines = spark.read.text(path).where(F.col("value") != ",".join(API_LOG_COLUMNS))
    parsed = F.from_csv(F.col("value"), _READ_SCHEMA.simpleString(), opts)
    return lines.select(parsed.alias("r")).select("r.*")


def stream_jsonl_raw(spark: SparkSession, path: str) -> DataFrame:
    """Streaming JSONL reader WITH the corrupt-record column — route it
    through :func:`valid_records` (load) and :func:`corrupt_records`
    (quarantine sink) so torn lines are captured, not silently lost; both
    splits are stateless filters, so each runs as its own writeStream over
    the same drop directory."""
    return _parse_json_lines(
        spark.readStream.option("wholetext", "false").text(path)
    )


def stream_jsonl_logs(spark: SparkSession, path: str) -> DataFrame:
    """Streaming JSONL source for :func:`ingest.start_ingest` — new files in
    ``path`` become micro-batches (the log-shipper drop-directory pattern).
    Valid rows only; pair with ``corrupt_records(stream_jsonl_raw(...))``
    as a second sink when quarantine routing is required."""
    return valid_records(stream_jsonl_raw(spark, path))


def valid_records(df: DataFrame) -> DataFrame:
    """Well-formed rows only, schema identical to API_LOG_SCHEMA."""
    return df.where(F.col(_CORRUPT).isNull()).select(*API_LOG_COLUMNS)


def corrupt_records(df: DataFrame) -> DataFrame:
    """Quarantine split: the raw text of every malformed input line.

    A plain filter, batch or streaming — no hidden cache (the readers
    parse over a text scan precisely so this split never trips Spark's
    QUERY_ONLY_CORRUPT_RECORD_COLUMN materialization requirement).
    """
    return df.where(F.col(_CORRUPT).isNotNull()).select(F.col(_CORRUPT))


def write_orc_logs(df: DataFrame, path: str) -> None:
    """Persist log records as ORC — Spark's second columnar native format
    (built into the distribution, no extra jars). Useful when downstream
    consumers are Hive/Trino deployments standardized on ORC; schema,
    compression, and predicate-pushdown behavior mirror the Parquet path.
    """
    df.write.mode("overwrite").orc(path)


def read_orc_logs(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC log records with the fixed schema (no inference pass)."""
    return spark.read.schema(API_LOG_SCHEMA).orc(path).select(*API_LOG_COLUMNS)


#: Raw-line ingestion alias: :func:`read_jsonl_logs` already IS the
#: ``format("text")`` + parse composition (line blobs in, PERMISSIVE parse,
#: quarantine split) — the name documents the syslog-relay/S3-inventory
#: ingestion shape without duplicating the implementation.
read_text_logs = read_jsonl_logs
