"""Iceberg dispatch coverage without an Iceberg jar (VERDICT r01 rec 4).

The sandbox has no iceberg-spark-runtime on the classpath, so the real
catalog can never load here. These tests make the Iceberg-facing call-sites
executed code anyway:

- ``session.iceberg_conf`` — the CREATE CATALOG-equivalent conf map
  (reference init-setup.py:72-93) is a pure function, asserted for both the
  REST (production) and Hadoop (test) topologies.
- ``maintenance.rewrite_data_files`` / ``expire_snapshots`` /
  ``remove_orphan_files`` — run against a recording stub so the exact CALL
  statements (procedure name, options map, where-predicate, catalog routing)
  are checked.
- ``ingest.start_ingest(use_iceberg_table=True)`` — the ``writer.toTable``
  call-site executes for real against the built-in ``spark_catalog``
  managed table; with Iceberg configured the identical code path commits
  snapshots through the catalog instead.
"""

from __future__ import annotations

import re

from api_log_iceberg_test_spark import maintenance
from api_log_iceberg_test_spark.generator import generate_api_logs
from api_log_iceberg_test_spark.ingest import IngestConfig, start_ingest
from api_log_iceberg_test_spark.schema import API_LOG_SCHEMA
from api_log_iceberg_test_spark.session import iceberg_conf


class _RecordingSpark:
    """Stub with the one method maintenance.py dispatches through."""

    def __init__(self) -> None:
        self.calls: list[str] = []

    def sql(self, query: str):
        self.calls.append(query)


def test_iceberg_conf_rest_topology():
    conf = iceberg_conf("aistor", warehouse="s3://wh", rest_uri="http://cat:8181")
    assert conf["spark.sql.catalog.aistor"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.aistor.type"] == "rest"
    assert conf["spark.sql.catalog.aistor.uri"] == "http://cat:8181"
    assert conf["spark.sql.catalog.aistor.warehouse"] == "s3://wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


def test_iceberg_conf_hadoop_topology():
    conf = iceberg_conf("dev", warehouse="/tmp/wh")
    assert conf["spark.sql.catalog.dev.type"] == "hadoop"
    assert conf["spark.sql.catalog.dev.warehouse"] == "/tmp/wh"
    assert "uri" not in " ".join(conf)


def test_rewrite_data_files_call_shape():
    fake = _RecordingSpark()
    maintenance.rewrite_data_files(
        fake, "aistor.logs.api", where="_day = DATE '2026-01-01'"
    )
    (q,) = fake.calls
    assert q.startswith("CALL aistor.system.rewrite_data_files(")
    assert "table => 'aistor.logs.api'" in q
    assert "'target-file-size-bytes', '536870912'" in q
    assert "where => '_day = DATE '2026-01-01''" in q


def test_rewrite_data_files_without_predicate():
    fake = _RecordingSpark()
    maintenance.rewrite_data_files(fake, "aistor.logs.api")
    (q,) = fake.calls
    assert "where" not in q


def test_expire_snapshots_call_shape():
    fake = _RecordingSpark()
    maintenance.expire_snapshots(fake, "aistor.logs.api", "2026-01-01 00:00:00")
    (q,) = fake.calls
    assert q.startswith("CALL aistor.system.expire_snapshots(")
    assert "older_than => TIMESTAMP '2026-01-01 00:00:00'" in q


def test_remove_orphan_files_routes_to_table_catalog():
    fake = _RecordingSpark()
    maintenance.remove_orphan_files(fake, "prod.logs.api")
    (q,) = fake.calls
    assert re.match(r"CALL prod\.system\.remove_orphan_files\(table => 'prod\.logs\.api'\)", q)


def test_start_ingest_totable_dispatch(spark, tmp_path):
    """The use_iceberg_table branch executes end-to-end: writeStream.toTable
    against the session catalog's managed table is the exact call-site that
    commits Iceberg snapshots in production (ingest.py)."""
    n = 200
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    generate_api_logs(spark, n, seed=7).write.parquet(src)

    table = "spark_catalog.default.ingest_dispatch_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        stream = spark.readStream.schema(API_LOG_SCHEMA).parquet(src)
        # DEFAULT config (parquet targets get _day): the table side must still
        # receive the unmodified 14-column schema — the _day helper is a
        # parquet-layout concern only (regression: it used to leak in)
        q = start_ingest(
            stream,
            table,
            IngestConfig(flush_count=100, checkpoint_dir=ckpt),
            use_iceberg_table=True,
            available_now=True,
        )
        q.awaitTermination(120)
        got = spark.read.table(table)
        assert got.count() == n
        assert [f.name for f in got.schema.fields] == [
            f.name for f in API_LOG_SCHEMA.fields
        ]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
