"""Batch table loader for the driver's synthetic parquet tables
(TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings.

Column pruning and filter pushdown reach the parquet scan automatically
because loading is a bare ``spark.read.parquet`` — no caching, no
materialization, no schema inference cost (parquet footers carry types).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as long
# nanos-since-epoch under spark.sql.legacy.parquet.nanosAsLong (set in
# session defaults). Converted here to micros TimestampType by floor
# division — the same truncation DuckDB applies when fetching TIMESTAMP_NS.
_NANO_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


# The driver contract hands us an ARBITRARY SparkSession (not our
# session.get_spark), so the two confs correctness depends on are set
# defensively at load time — both are runtime SQL confs:
# - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS); without it the
#   scan throws PARQUET_TYPE_ILLEGAL (Spark has no nanos timestamp).
# - UTC session timezone: oracle (DuckDB) timestamp comparisons are
#   timezone-pinned; a local-TZ session would shift every timestamp.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def _ensure_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANO_TS_COLS.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df
