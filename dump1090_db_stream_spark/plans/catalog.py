"""Catalog/DDL layer (SURVEY.md §2.11).

The reference's DDL surface (create_schema.sql): schema namespace (D-1),
typed table (D-2), three views (D-3), PK constraint (D-4), BRIN index
(D-5). Spark mapping: catalog database + parquet table + SQL views;
the PK becomes the dedup invariant (operators.sessions.dedup_by_key) and
the BRIN index becomes date partitioning (sinks.writers).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def create_adsb_database(spark: SparkSession, name: str = "adsb") -> None:
    """D-1: CREATE SCHEMA adsb (create_schema.sql:23)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def create_messages_table(spark: SparkSession, path: str,
                          database: str = "adsb",
                          table: str = "adsb_messages") -> None:
    """D-2: register the parquet fact store as an external catalog table
    (create_schema.sql:52-77). Partition discovery picks up parsed_date."""
    create_adsb_database(spark, database)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {database}.{table} "
        f"USING parquet LOCATION '{path}'")
    spark.sql(f"MSCK REPAIR TABLE {database}.{table}")
