"""dump1090 aircraft.json snapshot source (sources.aircraft_json)."""

from __future__ import annotations

import __spark_entry__ as entrymod
from dump1090_db_stream_spark.sources.aircraft_json import (
    parse_aircraft_json,
)


def test_read_archived_snapshots_whole_files(spark, tmp_path):
    """Batch archive layout: one JSON document per file (curl-in-cron);
    wholetext read + parse yields one row per live aircraft with the
    snapshot timestamp attached."""
    d = tmp_path / "snaps"
    d.mkdir()
    for i, doc in enumerate(entrymod._AIRCRAFT_SNAPSHOTS):
        (d / f"s{i}.json").write_text(doc)

    out = parse_aircraft_json(spark.read.text(str(d), wholetext=True),
                              max_seen_s=60.0)
    rows = {r["hex_ident"]: r for r in out.collect()}
    assert set(rows) == {"4CA4E5", "AB12CD", "4CA2D6"}
    assert rows["4CA4E5"]["callsign"] == "RJA1118"  # trailing pad trimmed
    assert rows["AB12CD"]["squawk"] == "7700"
    assert rows["4CA2D6"]["ground_speed"] == 320
    assert rows["4CA4E5"]["snapshot_time"].isoformat().startswith("2023-11-14")


def test_parse_is_streaming_compatible(spark, tmp_path):
    """Every step is a stateless projection, so the same parse runs on
    a readStream input (file source, availableNow) unchanged."""
    d = tmp_path / "stream"
    d.mkdir()
    for i, doc in enumerate(entrymod._AIRCRAFT_SNAPSHOTS):
        (d / f"s{i}.txt").write_text(doc.replace("\n", " "))

    stream = spark.readStream.format("text").load(str(d))
    q = (parse_aircraft_json(stream, max_seen_s=60.0)
         .writeStream.format("memory").queryName("acjson")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["hex_ident"] for r in spark.sql("SELECT * FROM acjson").collect()}
    assert got == {"4CA4E5", "AB12CD", "4CA2D6"}
