"""CLI entrypoint (python -m dump1090_db_stream_spark): flag surface
parity with the reference script and a file-replay end-to-end run."""

from __future__ import annotations

import os

import pytest

from dump1090_db_stream_spark.__main__ import build_parser, main
from tests.fixtures import N_MSG_LINES, SAMPLE_LINES


def test_flags_mirror_reference_env_defaults(monkeypatch):
    # dump1090-postgres.py:15-30 reads these; the CLI must honor them
    monkeypatch.setenv("DUMP1090HOST", "radar.local")
    monkeypatch.setenv("DUMP1090PORT", "31003")
    monkeypatch.setenv("PGDATABASE", "adsb_db")
    monkeypatch.setenv("PGUSER", "feeder")
    monkeypatch.setenv("BATCH_SIZE", "250")
    monkeypatch.setenv("CONNECT_ATTEMPT_LIMIT", "3")
    args = build_parser().parse_args([])
    assert args.dump1090 == "radar.local" and args.port == 31003
    assert args.dbname == "adsb_db" and args.dbuser == "feeder"
    assert args.batch_size == 250 and args.connect_attempt_limit == 3
    # reference flag spellings still parse
    args = build_parser().parse_args(
        ["--dump1090", "h", "--port", "30003", "-d", "db", "-U", "u",
         "--dbpass", "p", "--buffer-size", "2048", "--batch-size", "9",
         "--connect-attempt-limit", "2", "--connect-attempt-delay",
         "0.5", "--verbose"])
    assert args.buffer_size == 2048 and args.verbose


def test_cli_requires_source_and_sink(monkeypatch):
    for var in ("DUMP1090HOST", "PGDATABASE"):
        monkeypatch.delenv(var, raising=False)
    assert main(["--parquet-store", "/tmp/x"]) == 2      # no source
    assert main(["--dump1090", "h"]) == 2                # no sink


def test_cli_file_replay_into_parquet_store(spark, tmp_path, monkeypatch):
    for var in ("DUMP1090HOST", "PGDATABASE"):
        monkeypatch.delenv(var, raising=False)
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "log1.txt").write_text("\n".join(SAMPLE_LINES) + "\n")
    store = tmp_path / "store"
    rc = main(["--file-source", str(feed),
               "--parquet-store", str(store),
               "--checkpoint", str(tmp_path / "ck"),
               "--available-now"])
    assert rc == 0
    got = spark.read.parquet(str(store))
    assert got.count() == N_MSG_LINES
    assert "hex_ident" in got.columns


def _busy_feed(ms: range) -> list[str]:
    """SAMPLE_LINES plus, for every MSG line, one more message of the same
    aircraft and type per millisecond in ``ms`` (generated_time moved)
    and one exact relay repeat: many messages per aircraft x type, all
    of which land in one micro-batch and so share one parsed_time."""
    out = list(SAMPLE_LINES)
    for line in SAMPLE_LINES:
        if not line.startswith("MSG,"):
            continue
        f = line.split(",")
        for k in ms:
            f[7] = f[7][:-3] + f"{k:03d}"
            out.append(",".join(f))
        out.append(line)
    return out


def _wire_rows(df) -> list[tuple]:
    from dump1090_db_stream_spark.schema import WIRE_COLUMNS

    return sorted(map(tuple, df.select(WIRE_COLUMNS).collect()),
                  key=repr)


def _accepted(spark, lines: list[str]):
    from dump1090_db_stream_spark.functions.parser import parse_sbs1

    return parse_sbs1(spark.createDataFrame([(x,) for x in lines],
                                            ["value"]))


def _replay(tmp_path, *extra: str) -> int:
    return main(["--file-source", str(tmp_path / "feed"),
                 "--parquet-store", str(tmp_path / "store"),
                 "--checkpoint", str(tmp_path / "ck"),
                 "--available-now", *extra])


@pytest.fixture()
def no_env(monkeypatch):
    for var in ("DUMP1090HOST", "PGDATABASE"):
        monkeypatch.delenv(var, raising=False)


def test_cli_replay_stores_every_accepted_line(spark, tmp_path, no_env):
    """One batch with many messages per aircraft x type (and exact relay
    repeats) stores exactly the accepted lines, as a multiset."""
    from dump1090_db_stream_spark.sinks.writers import read_parquet_store

    lines = _busy_feed(range(1, 6))
    (tmp_path / "feed").mkdir()
    (tmp_path / "feed" / "log1.txt").write_text("\n".join(lines) + "\n")
    assert _replay(tmp_path) == 0
    got = read_parquet_store(spark, str(tmp_path / "store"))
    assert got.count() == N_MSG_LINES * 7
    assert _wire_rows(got) == _wire_rows(_accepted(spark, lines))


def test_cli_restart_stores_each_file_once(spark, tmp_path, no_env):
    """Restart from the checkpoint with one new file: the old file is not
    re-read, the new one is read whole, each in its own micro-batch."""
    from dump1090_db_stream_spark.sinks.writers import read_parquet_store

    feed = tmp_path / "feed"
    feed.mkdir()
    first, second = _busy_feed(range(1, 4)), _busy_feed(range(11, 14))
    (feed / "log1.txt").write_text("\n".join(first) + "\n")
    assert _replay(tmp_path) == 0
    (feed / "log2.txt").write_text("\n".join(second) + "\n")
    assert _replay(tmp_path) == 0
    got = read_parquet_store(spark, str(tmp_path / "store"))
    assert _wire_rows(got) == _wire_rows(_accepted(spark, first + second))
    assert got.select("parsed_time").distinct().count() == 2


def test_cli_resumes_a_filecontext_manager_checkpoint(spark, tmp_path,
                                                     no_env):
    """A checkpoint written through Spark's FileContext-based manager (the
    Spark default before get_spark selected the FileSystem-based one)
    resumes under the new default: each file is stored once."""
    from dump1090_db_stream_spark.sinks.writers import read_parquet_store

    key = "spark.sql.streaming.checkpointFileManagerClass"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing"
    jvm = spark.sparkContext._jvm
    feed = tmp_path / "feed"
    feed.mkdir()
    first, second = _busy_feed(range(1, 4)), _busy_feed(range(11, 14))
    (feed / "log1.txt").write_text("\n".join(first) + "\n")
    default = spark.conf.get(key)
    spark.conf.set(key, f"{pkg}.FileContextBasedCheckpointFileManager")
    try:
        assert jvm.org.apache.spark.sql.execution.streaming.checkpointing \
            .CheckpointFileManager.create(
                jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ck")),
                spark._jsparkSession.sessionState().newHadoopConf()
            ).getClass().getSimpleName() == \
            "FileContextBasedCheckpointFileManager"
        assert _replay(tmp_path) == 0
    finally:
        spark.conf.set(key, default)
    assert default == f"{pkg}.FileSystemBasedCheckpointFileManager"
    (feed / "log2.txt").write_text("\n".join(second) + "\n")
    assert _replay(tmp_path) == 0
    got = read_parquet_store(spark, str(tmp_path / "store"))
    assert _wire_rows(got) == _wire_rows(_accepted(spark, first + second))
    assert got.select("parsed_time").distinct().count() == 2


def test_cli_rejects_checkpoint_with_dedup_state(spark, tmp_path, no_env,
                                                 capsys):
    """A checkpoint written by the old stateful stream (watermarked PK
    dedup) gets a CLI error naming the state directory, and nothing is
    deleted. Deleting that directory alone lets the same checkpoint
    resume exactly-once."""
    from dump1090_db_stream_spark.functions.parser import parse_sbs1
    from dump1090_db_stream_spark.schema import PRIMARY_KEY
    from dump1090_db_stream_spark.sinks.writers import read_parquet_store
    from dump1090_db_stream_spark.streaming.pipeline import (
        file_lines,
        start_parquet_ingest,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "log1.txt").write_text("\n".join(SAMPLE_LINES) + "\n")
    old = (parse_sbs1(file_lines(spark, str(feed)))
           .withWatermark("parsed_time", "10 minutes")
           .dropDuplicatesWithinWatermark(PRIMARY_KEY))
    assert start_parquet_ingest(
        old, str(tmp_path / "store"), str(tmp_path / "ck" / "store"),
        available_now=True).awaitTermination(120)
    state = tmp_path / "ck" / "store" / "state"
    assert state.is_dir()

    assert _replay(tmp_path) == 2
    err = capsys.readouterr().err
    assert str(state) in err and "Delete only" in err
    assert state.is_dir()

    import shutil

    shutil.rmtree(state)
    new = _busy_feed(range(1, 3))
    (feed / "log2.txt").write_text("\n".join(new) + "\n")
    assert _replay(tmp_path) == 0
    got = read_parquet_store(spark, str(tmp_path / "store"))
    assert _wire_rows(got) == _wire_rows(
        _accepted(spark, SAMPLE_LINES + new))


def test_jdbc_batch_fn_dedups_on_primary_key(spark, tmp_path):
    """The CLI's plain JDBC sink deduplicates each micro-batch on the PK
    before appending: a table that enforces the reference's PK (embedded
    Derby here) accepts a batch holding repeated keys."""
    import glob

    import pyspark
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.functions.parser import parse_sbs1
    from dump1090_db_stream_spark.schema import PRIMARY_KEY
    from dump1090_db_stream_spark.sinks.writers import jdbc_foreach_batch

    if not glob.glob(os.path.join(
            os.path.dirname(pyspark.__file__), "jars", "derby-*.jar")):
        pytest.skip("no embedded Derby jar on the Spark classpath")

    url = f"jdbc:derby:{tmp_path}/pk_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(props["driver"])
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().execute(
            'CREATE TABLE messages ("transmission_type" INT NOT NULL, '
            '"parsed_time" TIMESTAMP NOT NULL, '
            '"hex_ident" VARCHAR(16) NOT NULL, "altitude" INT, '
            'PRIMARY KEY ("transmission_type", "parsed_time", '
            '"hex_ident"))')
    finally:
        conn.close()

    lines = spark.createDataFrame([(x,) for x in _busy_feed(range(1, 4))],
                                  ["value"])
    batch = parse_sbs1(lines, parsed_time=F.lit(
        "2020-01-02 03:04:05").cast("timestamp")).select(
        *PRIMARY_KEY, "altitude")
    n_keys = batch.select(PRIMARY_KEY).distinct().count()
    assert batch.count() == N_MSG_LINES * 5 > n_keys == N_MSG_LINES

    jdbc_foreach_batch(url, "messages", props, batchsize=4)(batch, 0)
    back = spark.read.options(**props).jdbc(url, "messages")
    assert back.count() == n_keys
    assert back.select(PRIMARY_KEY).distinct().count() == n_keys


def test_socket_feed_stores_every_accepted_line(spark, tmp_path):
    """The `--dump1090 HOST` path end to end over real TCP: a local
    server sends the CRLF wire form of the feed, and socket_lines ->
    parse_sbs1 -> start_parquet_ingest stores exactly the accepted
    lines, as a multiset."""
    import socketserver
    import threading
    import time

    from pyspark.errors import AnalysisException

    from dump1090_db_stream_spark.functions.parser import parse_sbs1
    from dump1090_db_stream_spark.sinks.writers import read_parquet_store
    from dump1090_db_stream_spark.streaming.pipeline import (
        socket_lines,
        start_parquet_ingest,
    )

    lines = _busy_feed(range(1, 3))
    done = threading.Event()

    class _FeedHandler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(("\r\n".join(lines) + "\r\n").encode())
            done.wait(60)  # hold the connection open while the stream drains

    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _FeedHandler)
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    store = str(tmp_path / "store")
    want = _wire_rows(_accepted(spark, lines))
    q = start_parquet_ingest(
        parse_sbs1(socket_lines(spark, "127.0.0.1",
                                server.server_address[1])),
        store, checkpoint=str(tmp_path / "ck"))
    try:
        n, deadline = 0, time.time() + 60
        while n < len(want) and time.time() < deadline:
            time.sleep(0.5)
            try:
                n = read_parquet_store(spark, store).count()
            except AnalysisException:  # no file committed yet
                pass
        assert q.exception() is None
    finally:
        q.stop()
        done.set()
        server.shutdown()
        server.server_close()
    assert _wire_rows(read_parquet_store(spark, store)) == want
