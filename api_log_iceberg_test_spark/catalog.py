"""Catalog attachment and introspection (reference S7/S8, SURVEY.md §2.1).

The reference attaches its warehouse at runtime with ``CREATE CATALOG aistor
USING iceberg WITH (...)`` through Trino (init-setup.py:72-93) and inspects
it with ``SHOW CATALOGS / SHOW SCHEMAS / SHOW TABLES / USE`` (README.md:
130-139). Spark equivalents:

- attachment = session conf (``spark.sql.catalog.<name>.*`` — see
  :func:`api_log_iceberg_test_spark.session.build_session`'s ``iceberg_*``
  settings); there is no CREATE CATALOG DDL in Spark.
- introspection = ``SHOW NAMESPACES / SHOW TABLES / SHOW VIEWS`` SQL plus
  the ``spark.catalog`` API, wrapped here with stable output schemas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import TESTDATA_TABLES, load_table


def register_testdata_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every driver testdata table as a temp view (the local stand-in
    for the warehouse's namespace) and return the registered names."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return list(TESTDATA_TABLES)


def show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: enumerate warehouse tables (reference ``SHOW TABLES FROM
    aistor.logs``, README.md:137-139) with a stable one-column schema."""
    register_testdata_views(spark, sf_dir)
    return (
        spark.sql("SHOW VIEWS")
        .select(F.col("viewName").alias("table_name"))
        .filter(F.col("table_name").isin(*TESTDATA_TABLES))
        .orderBy("table_name")
    )
