"""Physical layout helpers: bucketed tables for exchange-free joins.

At 100 TB the dominant cost of fact-fact joins is the shuffle. Bucketing
both tables by the join key at write time (``bucketBy``) pre-shuffles them
once; every later equi-join on that key then plans WITHOUT an Exchange on
the bucketed sides — verified by plan assertion in tests/test_storage.py.
This is the plain-Spark analog of Iceberg's bucket partition transform
(``bucket(N, key)``), which is what the production Iceberg table would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str, num_buckets: int = 8) -> None:
    """Persist a managed table bucketed by key."""
    df.write.mode("overwrite").bucketBy(num_buckets, bucket_col).saveAsTable(table)


def cojoin_bucketed(spark: SparkSession, left: str, right: str, key_l: str, key_r: str) -> DataFrame:
    """Equi-join two same-bucketed tables — no exchange on either side."""
    l = spark.table(left)
    r = spark.table(right)
    return l.join(r, l[key_l] == r[key_r])


def write_training_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 10_000,
    fmt: str = "json",
) -> None:
    """Export a curated corpus as size-capped training shards.

    Writes ``df`` as ``fmt`` (jsonl via ``json``, or ``parquet``) shard
    files under ``path``, hive-partitioned by ``lang`` and capped
    at ``max_records_per_file`` rows per shard — the layout a training
    loader streams directly (shard = one loader work unit).

    Scale: ``maxRecordsPerFile`` splits are applied inside each write task
    (no extra shuffle); partition columns route rows via the standard
    dynamic-partition insert. Pair with a coarse ``repartition`` upstream
    only if the job's task count must be decoupled from the scan.
    """
    df.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    ).partitionBy("lang").format(fmt).save(path)


def shard_manifest(spark: SparkSession, path: str, token_col: str | None = None) -> DataFrame:
    """Manifest of a jsonl shard export: one row per shard file with its row
    count (and token sum when ``token_col`` is present) — the index a
    training job uses to plan epochs without listing/scanning blind."""
    from pyspark.sql import functions as F

    df = spark.read.format("json").load(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("n_tokens"))
    return (
        df.groupBy(F.input_file_name().alias("shard"))
        .agg(*aggs)
        .orderBy("shard")
    )
