"""Sinks: append-only analytic store + JDBC parity sink.

The reference writes row-at-a-time INSERTs into PostgreSQL
(dump1090-postgres.py:92-131, committed per row :116). Our engine keeps
the append-only contract (T-2) but writes micro-batches:

- parquet date-partitioned store (the analytic path): partitioning by
  to_date(parsed_time) replaces the reference's BRIN index on parsed_time
  (create_schema.sql:141) — time-range queries prune whole partitions and
  parquet row-group min/max stats prune within files (SURVEY.md §4).
- JDBC append (the fidelity path): df.write.jdbc with batched inserts —
  the documented intent of the unused --batch-size knob
  (dump1090-postgres.py:27,:68-71; bug S-7 not replicated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dump1090_db_stream_spark.schema import PRIMARY_KEY

DATE_PARTITION_COL = "parsed_date"


def with_date_partition(messages: DataFrame,
                        ts_col: str = "parsed_time") -> DataFrame:
    return messages.withColumn(DATE_PARTITION_COL, F.to_date(F.col(ts_col)))


def write_parquet_store(
    messages: DataFrame,
    path: str,
    mode: str = "append",
) -> None:
    """Append to the date-partitioned parquet fact store.

    Rows are deduplicated on the reference's PK
    (create_schema.sql:132-133) within the written batch — the batch
    analog of the PK constraint rejecting duplicate inserts (A-6).

    Scale: partitionBy date keeps files aligned with the dominant query
    predicate (time ranges); within a day, writes inherit the upstream
    partitioning — repartition by date first so each task writes one
    partition directory (avoids small-file explosion on wide clusters).
    """
    df = with_date_partition(messages).dropDuplicates(PRIMARY_KEY)
    (df.repartition(F.col(DATE_PARTITION_COL))
       .write.mode(mode)
       .partitionBy(DATE_PARTITION_COL)
       .parquet(path))


def read_parquet_store(spark, path: str) -> DataFrame:
    """Read the fact store back; partition pruning on parsed_date is
    automatic for parsed_time/parsed_date range predicates."""
    return spark.read.parquet(path).drop(DATE_PARTITION_COL)


def write_time_sorted(
    messages: DataFrame,
    path: str,
    ts_col: str = "parsed_time",
    mode: str = "append",
    n_files: int = 8,
    bloom_cols: dict[str, int] | None = None,
    parquet_options: dict[str, str] | None = None,
) -> None:
    """Date-partitioned AND within-file time-sorted parquet — the strict
    upgrade over the reference's BRIN index (create_schema.sql:141).

    ``repartitionByRange(n_files, date, ts)`` range-partitions the batch
    into ``n_files`` contiguous (day, time) slices (size n_files to
    ~target-file-size × batch volume); ``sortWithinPartitions`` orders
    rows inside each file. Result: parquet row-group min/max stats on
    ``ts_col`` are TIGHT (non-overlapping ranges), so a time-range
    predicate prunes (a) whole day directories via partition pruning,
    (b) whole files via footer stats, (c) row groups within a file —
    three nested levels where BRIN has one. Range partitioning also
    spreads a hot day over multiple tasks instead of one writer hotspot
    (the failure mode of repartition-by-date-only at 100 TB ingest
    rates), while keeping each file inside a single day so directory
    partitioning stays clean.

    ``bloom_cols`` ({column: expected_ndv}) adds a FOURTH pruning level
    for the columns min/max stats cannot help: parquet bloom filters.
    Time-sorting makes ts stats tight but leaves e.g. ``hex_ident``
    scattered across every file (its min/max spans the alphabet), so
    the reference's point-lookup corpus (README.md:182-199, WHERE
    hex_ident = '...') would still scan every row group in the day.
    A bloom filter per row group answers "definitely absent" at a few
    bits/value, skipping row groups without decoding — size the ndv to
    distinct values per row group (~aircraft per day here), not the
    global cardinality. parquet-mr only MATERIALIZES the bloom when a
    chunk falls back from dictionary encoding (a fully dict-encoded
    chunk already answers point lookups exactly via its dictionary
    page, so a bloom would be redundant) — i.e. precisely the
    high-cardinality chunks that need one; low-cardinality days cost
    zero extra bytes. Verified empirically in
    tests/test_plans.py::test_time_sorted_store_writes_bloom_filters.

    ``parquet_options`` passes extra per-write parquet knobs through
    (e.g. ``parquet.dictionary.page.size`` to tune the fallback point).
    """
    df = with_date_partition(messages, ts_col)
    writer = (df.repartitionByRange(n_files, F.col(DATE_PARTITION_COL),
                                    F.col(ts_col))
              .sortWithinPartitions(DATE_PARTITION_COL, ts_col)
              .write.mode(mode))
    for col, ndv in (bloom_cols or {}).items():
        writer = (writer
                  .option(f"parquet.bloom.filter.enabled#{col}", "true")
                  .option(f"parquet.bloom.filter.expected.ndv#{col}",
                          str(ndv)))
    for k, v in (parquet_options or {}).items():
        writer = writer.option(k, v)
    writer.partitionBy(DATE_PARTITION_COL).parquet(path)


def write_jdbc(
    messages: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 1000,
) -> None:
    """JDBC append sink (S-4): the Spark re-expression of commit_data
    (dump1090-postgres.py:92-131). Batched inserts via the JDBC batchsize
    option implement the documented intent of --batch-size (S-7).

    Requires a JDBC driver jar on the classpath; raises the underlying
    error otherwise. No PostgreSQL driver ships in this container, but
    the path is executed live end-to-end against embedded Apache Derby
    (Spark's bundled metastore jar) in tests/test_jdbc_sink.py.
    """
    props = {"batchsize": str(batchsize)}
    if properties:
        props.update(properties)
    messages.write.mode("append").options(**props).jdbc(url, table)


def jdbc_foreach_batch(
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 1000,
):
    """foreachBatch sink for the plain JDBC append: each micro-batch is
    deduplicated on :data:`~dump1090_db_stream_spark.schema.PRIMARY_KEY`
    (a stateless batch dedup) and appended with :func:`write_jdbc`.

    The stream keeps every accepted line, but a table carrying the
    reference's PK (create_schema.sql:132-133) rejects a batch holding
    two rows with one key. ``parsed_time`` is stamped once per
    micro-batch, so a key never spans two batches and this per-batch
    dedup is all the PK needs."""

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        write_jdbc(batch_df.dropDuplicates(PRIMARY_KEY), url, table,
                   properties, batchsize=batchsize)

    return write_batch


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 512,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~``target_file_mb`` each, optionally range-sorted so footer stats
    prune after the rewrite.

    The small-files problem is THE operational failure mode of
    streaming ingest at scale (a micro-batch per minute = 1440 files a
    day per partition; scan planning and footer reads dominate). File
    count is sized from the actual input bytes, then the data is
    range-repartitioned (on ``sort_cols``, keeping each file a tight
    range) or coalesced. Returns the file count written.

    Runs as one Spark job; use it per date-partition, not across the
    whole store, so compaction parallelism and atomicity stay bounded.
    """
    import math

    df = spark.read.parquet(src_path)
    total_bytes = sum(
        int(f.getLen()) for f in
        spark._jvm.org.apache.hadoop.fs.Path(src_path)
        .getFileSystem(spark._jsc.hadoopConfiguration())
        .globStatus(spark._jvm.org.apache.hadoop.fs.Path(
            src_path + "/*.parquet")))
    n_files = max(1, math.ceil(total_bytes / (target_file_mb << 20)))
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols) \
               .sortWithinPartitions(*sort_cols)
    else:
        df = df.coalesce(n_files)
    df.write.mode("overwrite").parquet(dst_path)
    return n_files


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    shard_by: str,
    n_shards: int = 8,
    mode: str = "overwrite",
    partition_dirs: bool = False,
) -> None:
    """Training-export sink: newline-delimited JSON shards — the
    interchange format LLM data pipelines feed to tokenizer/training
    jobs.

    Determinism contract: shard MEMBERSHIP and within-shard ORDER are
    functions of the data alone, never of cluster layout — re-running
    the export on the same rows reproduces byte-identical shards
    (required for resumable downstream training). Achieved by
    serializing each row to its JSON line FIRST, then (a) sharding on
    pmod(portable_hash(shard_by), n_shards) — a pure value function,
    unlike repartitionByRange whose boundaries come from a random
    reservoir sample of the input layout — and (b) sorting shards by
    (hash, line text): a TOTAL order, so duplicate keys cannot
    reorder between runs (identical rows produce identical lines —
    interchangeable bytes).

    ``partition_dirs=True`` writes one ``_s=<shard>/`` DIRECTORY per
    shard (Hive-style partitionBy on the shard id) instead of loose
    part files — the layout whose per-shard record counts and byte
    totals a downstream manifest (and the capstone_export oracle) can
    audit without parsing filenames. Every shard id lives in exactly
    one task partition (hash-repartition on ``_s``), so each directory
    holds one deterministic, value-sorted file."""
    from dump1090_db_stream_spark.operators.sampling import portable_hash

    lines = df.select(
        F.pmod(portable_hash(shard_by), F.lit(n_shards)).alias("_s"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    shaped = (lines.repartition(n_shards, F.col("_s"))
              .sortWithinPartitions("_s", "value"))
    if partition_dirs:
        writer = shaped.write.mode(mode).partitionBy("_s")
    else:
        writer = shaped.select("value").write.mode(mode)
    writer.text(path)


def jsonl_shard_manifest(path: str) -> list[tuple[int, int, int]]:
    """Audit a ``write_jsonl_shards(..., partition_dirs=True)`` layout:
    ``(shard, n_records, n_bytes)`` per ``_s=<shard>/`` directory,
    sorted by shard — the training-shard manifest a downstream
    tokenizer/training job consumes (which files exist, how many
    records each, how many bytes to stream). Counts come from the
    actual bytes on disk (newline count / file size over the part
    files), NOT from the DataFrame that produced them — so comparing
    the manifest against a recomputation of the expected lines (the
    capstone_export oracle) proves the writer emitted exactly the
    predicted bytes. Bounded by construction: one row per shard.

    CONTRACT: ``path`` must be a LOCAL filesystem directory — the
    audit deliberately bypasses Spark and reads the raw bytes via
    ``os`` (that independence is what makes it evidence). The writer
    itself accepts any Hadoop-compatible URI; auditing an ``s3://`` /
    ``hdfs://`` layout raises ``ValueError`` here — route such paths
    through the Hadoop FileSystem API (or audit a synced local copy)
    instead (r13 ADVICE: previously this failed with a confusing
    FileNotFoundError or silently returned [])."""
    import os
    import re

    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path) and \
            not path.startswith("file://"):
        raise ValueError(
            f"jsonl_shard_manifest audits local paths only, got {path!r}")
    if path.startswith("file://"):
        path = path[len("file://"):]

    out: list[tuple[int, int, int]] = []
    for d in sorted(os.listdir(path)):
        if not d.startswith("_s="):
            continue
        shard = int(d.split("=", 1)[1])
        n_records = n_bytes = 0
        sub = os.path.join(path, d)
        for f in os.listdir(sub):
            if not f.startswith("part-") or f.endswith(".crc"):
                continue
            fp = os.path.join(sub, f)
            n_bytes += os.path.getsize(fp)
            with open(fp, "rb") as fh:
                n_records += fh.read().count(b"\n")
        out.append((shard, n_records, n_bytes))
    return out


# --- PostgreSQL-dialect idempotent upsert sink --------------------------
# The conflict key defaults to the reference's PK (schema.PRIMARY_KEY,
# create_schema.sql:132-133): re-ingesting an overlapping feed violates
# it row by row unless the INSERT carries an ON CONFLICT clause.


def pg_upsert_sql(
    table: str,
    columns: list[str],
    conflict_cols: tuple[str, ...] | list[str] = PRIMARY_KEY,
) -> str:
    """PostgreSQL upsert statement for one row (DB-API ``%s``
    placeholders): ``INSERT ... ON CONFLICT (pk) DO NOTHING`` —
    database-side idempotency for T-5 (the reference instead drops the
    whole per-row transaction on PK violation,
    dump1090-postgres.py:118-123; ON CONFLICT keeps the batch alive).

    Identifiers are double-quoted; ``table`` may be schema-qualified
    (each dotted part quoted separately)."""
    missing = [c for c in conflict_cols if c not in columns]
    if missing:
        raise ValueError(f"conflict columns {missing} not in {columns}")

    def q(ident: str) -> str:
        return '"' + ident.replace('"', '""') + '"'

    qtable = ".".join(q(p) for p in table.split("."))
    collist = ", ".join(q(c) for c in columns)
    placeholders = ", ".join(["%s"] * len(columns))
    conflict = ", ".join(q(c) for c in conflict_cols)
    return (f"INSERT INTO {qtable} ({collist}) VALUES ({placeholders}) "
            f"ON CONFLICT ({conflict}) DO NOTHING")


def pg_upsert_foreach_batch(
    connection_factory,
    table: str,
    conflict_cols: tuple[str, ...] | list[str] = PRIMARY_KEY,
    batchsize: int = 1000,
):
    """foreachBatch sink writing idempotent PostgreSQL upserts:
    ``stream.writeStream.foreachBatch(pg_upsert_foreach_batch(...))``.

    ``connection_factory`` is a zero-arg picklable callable returning a
    DB-API connection (e.g. ``functools.partial(psycopg2.connect, dsn)``)
    — injected rather than imported so the sink is driver-agnostic and
    contract-testable without a live server (no PostgreSQL driver ships
    in this container; execution mechanics are proven live against
    embedded Derby by the plain JDBC sink in tests/test_jdbc_sink.py).

    Scale shape: ONE connection per partition per micro-batch (executors
    write in parallel, the reference's single-connection ingest
    serialized everything through one socket), ``executemany`` in
    ``batchsize`` slices (the reference commits per row,
    dump1090-postgres.py:116 — its documented throughput ceiling).
    Combined with ON CONFLICT DO NOTHING this makes retried micro-batches
    harmless: exactly-once TABLE STATE on top of foreachBatch's
    at-least-once delivery, the standard Spark-to-RDBMS idempotency
    recipe."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        cols = list(batch_df.columns)
        sql = pg_upsert_sql(table, cols, conflict_cols)

        def write_partition(rows) -> None:
            conn = connection_factory()
            try:
                cur = conn.cursor()
                buf: list[tuple] = []
                for r in rows:
                    buf.append(tuple(r[c] for c in cols))
                    if len(buf) >= batchsize:
                        cur.executemany(sql, buf)
                        buf = []
                if buf:
                    cur.executemany(sql, buf)
                conn.commit()
            finally:
                conn.close()

        batch_df.foreachPartition(write_partition)

    return write_batch


def write_json_sidecar(spark, dir_path: str, record: dict) -> None:
    """One-record JSON-lines sidecar written DRIVER-SIDE through the
    Hadoop FS API — layout-compatible with the DataFrame json writer
    (a directory holding one ``part-*.json`` file plus ``_SUCCESS``),
    so ``spark.read.json`` and :func:`read_json_sidecar` both read old
    and new sidecars interchangeably.

    Why (r15, optimization guide §5): the IVF-PQ index sidecar
    (``_ivfpq_meta``) carries ONE row of quantizer metadata, but ``createDataFrame ->
    coalesce(1) -> write.json`` spins a full Spark job for it —
    measured ~1.3-2.2 s per index build at sf0.1, pure scheduling.
    A driver-side metadata write is milliseconds and survives on any
    Hadoop-compatible filesystem."""
    import json as _json

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    dest = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = dest.getFileSystem(conf)
    fs.delete(dest, True)          # mode("overwrite") semantics
    fs.mkdirs(dest)
    part = jvm.org.apache.hadoop.fs.Path(dir_path + "/part-00000.json")
    out = fs.create(part, True)
    try:
        out.write(bytearray((_json.dumps(record) + "\n").encode("utf-8")))
    finally:
        out.close()
    # _SUCCESS marker for parity with the DataFrame writer's layout
    fs.create(jvm.org.apache.hadoop.fs.Path(dir_path + "/_SUCCESS"),
              True).close()


def read_json_sidecar(spark, dir_path: str,
                      missing_ok: bool = False) -> dict | None:
    """The first JSON record of a sidecar directory, read DRIVER-SIDE
    (no Spark job, no schema-inference pass — the read half of
    :func:`write_json_sidecar`). Reads both driver-written and
    DataFrame-writer-written sidecars (any non-hidden data file; the
    record is a single JSON line in both layouts). Returns ``None``
    when the directory is missing and ``missing_ok``; raises
    ``FileNotFoundError`` otherwise."""
    import json as _json

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    dest = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = dest.getFileSystem(conf)
    if not fs.exists(dest):
        if missing_ok:
            return None
        raise FileNotFoundError(f"sidecar not found: {dir_path}")
    names = sorted(
        (st.getPath() for st in fs.listStatus(dest)
         if not st.getPath().getName().startswith(("_", "."))),
        key=lambda p: p.getName())
    for p in names:
        stream = fs.open(p)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8"))
            line = reader.readLine()
            while line is not None:
                if line.strip():
                    return _json.loads(line)
                line = reader.readLine()
        finally:
            stream.close()
    if missing_ok:
        return None
    raise FileNotFoundError(f"sidecar at {dir_path} has no data file")
