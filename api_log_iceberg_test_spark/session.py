"""SparkSession construction.

Spark-native restatement of the reference's runtime catalog attachment
(``init-setup.py:72-93`` — ``CREATE CATALOG aistor USING iceberg WITH (...)``):
Spark has no CREATE CATALOG DDL, so the equivalent is session configuration
set before the session is built. When the Iceberg Spark runtime jar is not on
the classpath (this container has none), the builder degrades gracefully to
the built-in ``spark_catalog`` with parquet-backed tables — every query in
this engine is expressed against DataFrames and works over either.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime partition coalescing + skew-join splitting.
- ``spark.sql.shuffle.partitions`` defaults small for local[32] tests; on a
  real cluster pass ``shuffle_partitions≈2-3× total cores`` (AQE coalesces
  down, so err high).
- Arrow enabled for the (few) Pandas-UDF paths.
- Session timezone pinned to UTC so timestamp semantics match the oracle.
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

# Local-mode default, sized to the testdata scale: sf0.1 shuffles are at
# most a few MB, where 8 partitions beat 32 by ~13% on the full bench
# (per-stage scheduling overhead dominates tiny shuffles even under AQE
# coalescing; measured 16.3s vs 18.7s). Real clusters size it explicitly
# (≈3× total cores) through ``extra_conf``.
DEFAULT_SHUFFLE_PARTITIONS = 8

#: Catalog naming from the reference (init-setup.py:27-29): warehouse
#: ``aistor``, namespace ``logs``, table ``api``. README prose saying
#: ``minio`` is stale — executable code wins (SURVEY.md §0).
DEFAULT_CATALOG = "aistor"
DEFAULT_NAMESPACE = "logs"
DEFAULT_TABLE = "api"


def iceberg_conf(
    catalog: str,
    warehouse: str | None = None,
    rest_uri: str | None = None,
) -> dict[str, str]:
    """Session conf equivalent of the reference's dynamic ``CREATE CATALOG``
    DDL (init-setup.py:72-93): REST catalog when ``rest_uri`` is given (the
    production topology, README.md:239-254), else a local Hadoop catalog
    (the test shape). Pure function so the dispatch logic is testable
    without an Iceberg jar on the classpath.
    """
    prefix = f"spark.sql.catalog.{catalog}"
    conf: dict[str, str] = {prefix: "org.apache.iceberg.spark.SparkCatalog"}
    if rest_uri:
        conf[f"{prefix}.type"] = "rest"
        conf[f"{prefix}.uri"] = rest_uri
        if warehouse:
            conf[f"{prefix}.warehouse"] = warehouse
    else:
        conf[f"{prefix}.type"] = "hadoop"
        conf[f"{prefix}.warehouse"] = warehouse or "/tmp/iceberg-warehouse"
    conf["spark.sql.extensions"] = (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    )
    return conf


def build_session(
    app_name: str = "api-log-iceberg-test-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    iceberg_catalog: str | None = None,
    iceberg_warehouse: str | None = None,
    iceberg_rest_uri: str | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``iceberg_*`` args mirror the reference's dynamic catalog DDL
    (init-setup.py:72-93): ``iceberg_rest_uri`` → REST catalog (the
    production shape, README.md:239-254); ``iceberg_warehouse`` alone → a
    local Hadoop catalog (the test shape). Both require the Iceberg Spark
    runtime jar; without it the session still builds and the engine runs on
    parquet-backed managed tables.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    default_master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or default_master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16 (guide §2.2/§2.5): AQE's coalescer floors every post-shuffle
        # partition at minPartitionSize (default 1 MB), so an answer-sized
        # but CPU-dense stage (candidate-pair verification: ~1 MB of pair
        # ids driving array-intersect work) collapses to 1-2 tasks with the
        # rest of the cluster idle. parallelismFirst (default true) already
        # targets max(totalBytes/defaultParallelism, minPartitionSize);
        # lowering the floor lets that cluster-width term win on small
        # shuffles. Scale-adaptive by construction: once a shuffle exceeds
        # parallelism x 1 MB the floor is inert, so cluster-scale plans are
        # unchanged — measured at sf0.1: q_dedup_ngram_jaccard 1.78→0.85 s,
        # q_sessionize 0.59→0.38 s, sub-0.1 s reference queries unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) is otherwise rejected by Spark 4
        # (PARQUET_TYPE_ILLEGAL); read as long ns and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Silence progress bars in test logs
        .config("spark.ui.showConsoleProgress", "false")
    )

    # An explicit catalog request is honored unconditionally: the env-var
    # probe only detects SPARK_CLASSPATH/SPARK_SUBMIT_OPTS jars, and
    # silently dropping requested config when the jar arrives some other
    # way (spark.jars.packages, jars/ dir) sends writes to the wrong
    # catalog; better to apply the conf and let Spark fail loudly if the
    # runtime truly lacks Iceberg. (Review finding.)
    if iceberg_catalog:
        for k, v in iceberg_conf(
            iceberg_catalog, iceberg_warehouse, iceberg_rest_uri
        ).items():
            builder = builder.config(k, v)

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    return builder.getOrCreate()
