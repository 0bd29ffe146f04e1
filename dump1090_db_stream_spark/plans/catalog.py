"""Catalog/DDL layer (SURVEY.md §2.11).

The reference's DDL surface (create_schema.sql): schema namespace (D-1),
typed table (D-2), three views (D-3), PK constraint (D-4), BRIN index
(D-5). Spark mapping: catalog database + a catalog view over the
parquet store + SQL views;
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
    """D-2: expose the parquet fact store in the catalog as
    ``database.table`` (create_schema.sql:52-77).

    The entry is a view over the store's path, so every query that
    reads it lists the store afresh: a day that the ingester or
    :func:`~dump1090_db_stream_spark.sinks.writers.write_parquet_store`
    adds later is visible to the next query of a long-lived session,
    with no repair or refresh step. A catalog table with registered
    partitions would keep answering from the partitions registered at
    creation. ``parsed_date`` is still discovered from the directory
    names, so a predicate on it prunes whole days. Over a streaming
    store, the file sink's ``_spark_metadata`` log decides which files
    are read, so files of an uncommitted micro-batch stay out. Calling
    this again re-points the view at ``path``."""
    create_adsb_database(spark, database)
    spark.sql(
        f"CREATE OR REPLACE VIEW {database}.{table} "
        f"AS SELECT * FROM parquet.`{path}`")
