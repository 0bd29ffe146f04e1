"""PostgreSQL-dialect idempotent upsert sink (sinks.writers
pg_upsert_sql / pg_upsert_foreach_batch).

No PostgreSQL server or driver exists in this container, so the SQL
generation is unit-tested and the foreachBatch/foreachPartition
mechanics are contract-tested with a RECORDING connection (statements
journaled to disk by the executor workers); live JDBC execution
mechanics stay proven by tests/test_jdbc_sink.py against embedded
Derby."""

from __future__ import annotations

import json
import uuid

import pytest

from dump1090_db_stream_spark.schema import PRIMARY_KEY
from dump1090_db_stream_spark.sinks.writers import (
    pg_upsert_foreach_batch,
    pg_upsert_sql,
)

COLS = ["transmission_type", "parsed_time", "hex_ident", "callsign"]


def test_upsert_sql_do_nothing_form():
    sql = pg_upsert_sql("adsb.adsb_messages", COLS)
    assert sql == (
        'INSERT INTO "adsb"."adsb_messages" '
        '("transmission_type", "parsed_time", "hex_ident", "callsign") '
        "VALUES (%s, %s, %s, %s) "
        'ON CONFLICT ("transmission_type", "parsed_time", "hex_ident") '
        "DO NOTHING")


def test_upsert_sql_validates_conflict_columns():
    with pytest.raises(ValueError, match="conflict columns"):
        pg_upsert_sql("t", ["a", "b"], conflict_cols=("nope",))
    assert PRIMARY_KEY == ["transmission_type", "parsed_time", "hex_ident"]


def _journal_factory(journal_dir: str):
    """Zero-arg picklable connection factory producing a DB-API-shaped
    journal: executemany slices land as JSON lines in a shared directory
    (executor workers are separate processes, so the journal must go
    through the filesystem, not driver memory). The class is defined
    INSIDE the factory so cloudpickle ships it by value — the test
    module is not importable on executor workers."""

    class RecordingConnection:
        def __init__(self):
            self.pending = []
            self.committed = False

        def cursor(self):
            return self

        def executemany(self, sql, rows):
            self.pending.append((sql, [list(map(str, r)) for r in rows]))

        def commit(self):
            path = f"{journal_dir}/{uuid.uuid4().hex}.jsonl"
            with open(path, "w") as f:
                for sql, rows in self.pending:
                    f.write(json.dumps({"sql": sql, "rows": rows}) + "\n")
            self.committed = True

        def close(self):
            assert self.committed or not self.pending

    return RecordingConnection


def _read_journal(journal_dir) -> list[dict]:
    out = []
    for p in journal_dir.glob("*.jsonl"):
        with open(p) as f:
            out.extend(json.loads(ln) for ln in f)
    return out


def test_foreach_batch_writes_every_row_once_in_bounded_slices(
        spark, tmp_path):
    jd = tmp_path / "journal"
    jd.mkdir()
    df = spark.range(37).selectExpr(
        "cast(id % 8 as int) AS transmission_type",
        "timestamp_seconds(1700000000 + id) AS parsed_time",
        "concat('HEX', id) AS hex_ident",
        "concat('CS', id) AS callsign",
    ).repartition(4)

    writer = pg_upsert_foreach_batch(
        _journal_factory(str(jd)), "adsb.adsb_messages", batchsize=5)
    writer(df, 0)

    slices = _read_journal(jd)
    assert slices, "nothing journaled"
    want_sql = pg_upsert_sql("adsb.adsb_messages", COLS)
    assert all(s["sql"] == want_sql for s in slices)
    assert all(len(s["rows"]) <= 5 for s in slices)
    seen = [tuple(r) for s in slices for r in s["rows"]]
    assert len(seen) == 37 and len(set(seen)) == 37  # every row exactly once
    assert {r[2] for r in seen} == {f"HEX{i}" for i in range(37)}


def test_foreach_batch_as_streaming_sink(spark, tmp_path):
    """The returned callable is a working writeStream.foreachBatch sink:
    an availableNow file stream drains through it and every source row
    reaches the journal."""
    jd = tmp_path / "journal"
    jd.mkdir()
    src = tmp_path / "src"
    spark.range(20).selectExpr(
        "cast(id % 8 as int) AS transmission_type",
        "timestamp_seconds(1700000000 + id) AS parsed_time",
        "concat('HEX', id) AS hex_ident",
        "concat('CS', id) AS callsign",
    ).write.parquet(str(src))

    stream = spark.readStream.schema(
        "transmission_type int, parsed_time timestamp, "
        "hex_ident string, callsign string").parquet(str(src))
    q = (stream.writeStream
         .foreachBatch(pg_upsert_foreach_batch(
             _journal_factory(str(jd)), "adsb.adsb_messages",
             batchsize=1000))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    seen = {tuple(r) for s in _read_journal(jd) for r in s["rows"]}
    assert len(seen) == 20
    assert {r[2] for r in seen} == {f"HEX{i}" for i in range(20)}
