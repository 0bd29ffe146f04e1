"""Drop-in CLI: ``python -m dump1090_db_stream_spark [flags]``.

Mirrors the reference script's invocation surface — the same flags and
the same environment-variable defaults (dump1090-postgres.py:15-30,
args_parse :33-90, Dockerfile env) — so a user of the reference can
switch by changing the command name:

    python -m dump1090_db_stream_spark \
        --dump1090 localhost --port 30003 \
        -d adsb --dbhost pg --dbuser feeder --batch-size 500

Differences from the reference, all documented intent rather than
bug parity:

- the sink is Spark's batched JDBC append (every row of every buffer,
  not the reference's first-line-only commit_data bug, S-7; each
  micro-batch deduplicated on the PK first) or — preferred — the
  idempotent PostgreSQL ON CONFLICT upsert sink with ``--upsert``
  (exactly-once table state, create_schema.sql:132-133);
- the stream itself keeps every accepted line: a micro-batch is one
  stateless stage, and the checkpoint plus the file sink's manifest
  give the parquet store exactly-once;
- ``--parquet-store DIR`` tees the analytic parquet store (the engine's
  native layout; can run INSTEAD of a database);
- ``--file-source DIR`` replays raw SBS-1 log files through the same
  pipeline (replayable ingest; the socket source is not);
- ``--buffer-size`` is accepted for compatibility and ignored: Spark's
  socket source manages its own read buffering (the knob only shaped
  the reference's recv() calls, S-2).
"""

from __future__ import annotations

import argparse
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    env = os.environ.get
    p = argparse.ArgumentParser(
        prog="python -m dump1090_db_stream_spark",
        description="Process dump1090 SBS-1 messages with Spark and "
                    "insert them into a database and/or parquet store")
    p.add_argument("--dump1090", type=str, default=env("DUMP1090HOST"),
                   help="network location of the dump1090 broadcast")
    p.add_argument("--port", type=int,
                   default=int(env("DUMP1090PORT") or 30003),
                   help="port broadcasting SBS-1 BaseStation messages")
    p.add_argument("-d", "--dbname", type=str, default=env("PGDATABASE"))
    p.add_argument("--dbhost", type=str, default=env("PGHOST"))
    p.add_argument("--dbport", type=str, default=env("PGPORT") or "5432")
    p.add_argument("-U", "--dbuser", type=str, default=env("PGUSER"))
    p.add_argument("--dbschema", type=str,
                   default=env("PGSCHEMA") or "adsb")
    p.add_argument("--dbtable", type=str,
                   default=env("PGTABLE") or "messages")
    p.add_argument("--dbpass", type=str, default=env("PGPASSWORD"))
    p.add_argument("--buffer-size", type=int,
                   default=int(env("BUFFER_SIZE") or 1024),
                   help="accepted for reference compatibility; Spark's "
                        "socket source buffers internally")
    p.add_argument("--batch-size", type=int,
                   default=int(env("BATCH_SIZE") or 1000),
                   help="rows per JDBC batch insert")
    p.add_argument("--connect-attempt-limit", type=int,
                   default=int(env("CONNECT_ATTEMPT_LIMIT") or 10))
    p.add_argument("--connect-attempt-delay", type=float,
                   default=float(env("CONNECT_ATTEMPT_DELAY") or 5.0))
    p.add_argument("--verbose", action="store_true", default=False,
                   help="also print batches to the console sink")
    # Spark-native extensions
    p.add_argument("--file-source", type=str, default=None,
                   help="replay a directory of raw SBS-1 log files "
                        "instead of the socket")
    p.add_argument("--parquet-store", type=str, default=None,
                   help="write the date-partitioned parquet store here")
    p.add_argument("--checkpoint", type=str, default="./_checkpoint")
    p.add_argument("--upsert", action="store_true", default=False,
                   help="PostgreSQL ON CONFLICT DO NOTHING upsert sink "
                        "(idempotent) instead of plain JDBC append")
    p.add_argument("--available-now", action="store_true", default=False,
                   help="drain the current source contents and stop "
                        "(for replay/backfill runs)")
    p.add_argument("--master", type=str, default=None,
                   help="Spark master override, e.g. local[8]")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if not args.file_source and not args.dump1090:
        print("error: need --dump1090 HOST (or DUMP1090HOST) "
              "or --file-source DIR", file=sys.stderr)
        return 2
    if not args.parquet_store and not args.dbname:
        print("error: need a sink: --parquet-store DIR and/or "
              "-d/--dbname (PGDATABASE)", file=sys.stderr)
        return 2

    checkpoints = {
        name: os.path.join(args.checkpoint, name)
        for name, on in (("store", args.parquet_store), ("db", args.dbname),
                         ("console", args.verbose)) if on}
    stale = [os.path.join(ck, "state") for ck in checkpoints.values()
             if os.path.isdir(os.path.join(ck, "state"))]
    if stale:
        # Spark refuses to restart a stateless plan from a checkpoint that
        # holds operator state. Deleting state/ alone is safe: the offset
        # and commit logs and the sink's manifest still give exactly-once.
        print("error: the checkpoint holds dedup state written by an older "
              "version; the stream is stateless now and cannot restart "
              "from it. Delete only " + " and ".join(stale)
              + ", then run again (the rest of the checkpoint keeps "
              "exactly-once; do not start a fresh checkpoint against the "
              "same store, that would skip new data)", file=sys.stderr)
        return 2

    import time

    from dump1090_db_stream_spark import get_spark
    from dump1090_db_stream_spark.functions.parser import parse_sbs1
    from dump1090_db_stream_spark.sinks.writers import jdbc_foreach_batch
    from dump1090_db_stream_spark.streaming.pipeline import (
        file_lines,
        run_with_bounded_retries,
        socket_lines,
        start_foreach_batch,
        start_parquet_ingest,
    )

    spark = get_spark("dump1090-db-stream",
                      **({"master": args.master} if args.master else {}))
    lines = (file_lines(spark, args.file_source) if args.file_source
             else socket_lines(spark, args.dump1090, args.port))
    messages = parse_sbs1(lines)

    def start_all():
        qs = []
        if args.parquet_store:
            qs.append(start_parquet_ingest(
                messages, args.parquet_store,
                checkpoint=checkpoints["store"],
                available_now=args.available_now))
        if args.dbname:
            url = (f"jdbc:postgresql://{args.dbhost}:{args.dbport}"
                   f"/{args.dbname}")
            table = f"{args.dbschema}.{args.dbtable}"
            props = {"user": args.dbuser or "",
                     "password": args.dbpass or ""}
            if args.upsert:
                from functools import partial

                from dump1090_db_stream_spark.sinks.writers import (
                    pg_upsert_foreach_batch,
                )
                try:
                    import psycopg2  # noqa: F401
                except ImportError as e:
                    raise SystemExit(
                        "--upsert needs psycopg2 on the executors; "
                        "plain JDBC append works without it") from e
                conn_factory = partial(
                    psycopg2.connect, host=args.dbhost, port=args.dbport,
                    dbname=args.dbname, user=args.dbuser,
                    password=args.dbpass)
                batch_fn = pg_upsert_foreach_batch(
                    conn_factory, table, batchsize=args.batch_size)
            else:
                batch_fn = jdbc_foreach_batch(
                    url, table, props, batchsize=args.batch_size)
            qs.append(start_foreach_batch(
                messages, checkpoints["db"], batch_fn,
                available_now=args.available_now))
        if args.verbose:
            w = (messages.writeStream.format("console")
                 .option("checkpointLocation", checkpoints["console"])
                 .outputMode("append"))
            if args.available_now:
                w = w.trigger(availableNow=True)
            qs.append(w.start())
        return qs

    def run_ensemble() -> None:
        """Start every sink, then supervise ALL of them: the first
        failure raises (triggering an ensemble restart from the
        checkpoints), and the finally-stop guarantees no stale query is
        still holding a checkpoint when the retry calls start_all()
        again. availableNow runs drain every sink and return."""
        qs = start_all()
        try:
            if args.available_now:
                for q in qs:
                    q.awaitTermination()
                return
            while True:
                for q in qs:
                    if not q.isActive:
                        if q.exception() is not None:
                            raise q.exception()
                        return  # externally stopped: clean exit
                time.sleep(1)
        finally:
            for q in qs:
                if q.isActive:
                    q.stop()

    run_with_bounded_retries(
        run_ensemble,
        attempt_limit=args.connect_attempt_limit,
        attempt_delay=args.connect_attempt_delay,
        on_attempt=lambda n, e: print(
            f"stream attempt {n} failed: {e}", file=sys.stderr))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
