"""Untimed output checks, computed by DuckDB independently of Spark.

- Ingest: every stored row equals the typed parse of an accepted input
  line, every (hex_ident, transmission_type) pair of the accepted input
  is stored, and no rejected or non-MSG line is stored.
- Queries: each analyst query's result equals the same query run by
  DuckDB over the same parquet store.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

WIRE = [
    "message_type", "transmission_type", "session_id", "aircraft_id",
    "hex_ident", "flight_id", "generated_date", "generated_time",
    "logged_date", "logged_time", "callsign", "altitude", "ground_speed",
    "track", "lat", "lon", "vertical_rate", "squawk", "alert", "emergency",
    "spi", "is_on_ground",
]
_INT = {"transmission_type", "altitude", "ground_speed", "track", "alert",
        "emergency", "spi", "is_on_ground"}
_FLOAT = {"lat", "lon", "vertical_rate"}
_DATE = {"generated_date", "logged_date"}


def _typed(i: int, name: str) -> str:
    """DuckDB's parse of wire field ``i`` of the split line ``f``,
    mirroring the reference's column types ('' is NULL)."""
    raw = f"NULLIF(f[{i + 1}], '')"
    if name in _INT:
        return f"TRY_CAST({raw} AS INTEGER) AS {name}"
    if name in _FLOAT:
        return f"TRY_CAST({raw} AS FLOAT) AS {name}"
    if name in _DATE:
        return f"CAST(TRY_STRPTIME({raw}, '%Y/%m/%d') AS DATE) AS {name}"
    return f"{raw} AS {name}"


def _store_sql(store: Path) -> str:
    return (f"read_parquet('{store}/**/*.parquet', hive_partitioning = 1,"
            " union_by_name = 1)")


class IngestChecker:
    """Checks stores written from a feed, or from its first lines; the
    typed expectation is built once from the feed's accepted lines."""

    def __init__(self, lines: list[str], accepted: list[bool]):
        pos = [i for i, ok in enumerate(accepted) if ok]
        self.con = duckdb.connect()
        self.con.register("raw", pa.table({
            "pos": pos, "line": [lines[i] for i in pos]}))
        self.con.execute(
            "CREATE TABLE accepted AS SELECT pos, "
            + ", ".join(_typed(i, c) for i, c in enumerate(WIRE))
            + " FROM (SELECT pos, string_split(line, ',') AS f FROM raw)")
        self.con.unregister("raw")

    def close(self) -> None:
        self.con.close()

    def check(self, store: Path, n_lines: int) -> tuple[int, list[str]]:
        """(stored row count, problems) for the store at ``store``,
        written from the feed's first ``n_lines`` lines; no problems
        means it passed."""
        con = self.con
        cols = ", ".join(WIRE)
        con.execute("CREATE OR REPLACE VIEW stored AS SELECT * FROM "
                    + _store_sql(store))
        con.execute("CREATE OR REPLACE VIEW expected AS SELECT * FROM "
                    f"accepted WHERE pos < {int(n_lines)}")
        problems = []
        n_stored = con.execute("SELECT count(*) FROM stored").fetchone()[0]
        if n_stored == 0:
            problems.append("store is empty")
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM stored "
            f"EXCEPT SELECT {cols} FROM expected)").fetchone()[0]
        if extra:
            problems.append(f"{extra} stored rows match no accepted line")
        bad = con.execute(
            "SELECT count(*) FROM stored WHERE message_type <> 'MSG' "
            "OR hex_ident IS NULL OR parsed_time IS NULL").fetchone()[0]
        if bad:
            problems.append(f"{bad} rejected or non-MSG rows stored")
        missing = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT hex_ident, "
            "transmission_type FROM expected EXCEPT SELECT hex_ident, "
            "transmission_type FROM stored)").fetchone()[0]
        if missing:
            problems.append(
                f"{missing} accepted (hex_ident, transmission_type) pairs "
                "not stored")
        return n_stored, problems


# ----------------------------------------------------------- query oracle

def oracle_sql(kind: str, param) -> str:
    """DuckDB SQL for one analyst query over the view ``m`` (the store
    minus its partition column), in the column order Spark returns."""
    callsigns = ("SELECT callsign, hex_ident, CAST(parsed_time AS DATE) "
                 "AS date_seen, max(parsed_time) AS last_seen, "
                 "min(parsed_time) AS first_seen FROM m WHERE callsign "
                 "IS NOT NULL AND callsign <> '' GROUP BY 1, 2, 3")
    locations = ("SELECT hex_ident, parsed_time, lon, lat, altitude "
                 "FROM m WHERE lat IS NOT NULL")
    if kind == "callsigns":
        return callsigns
    if kind == "locations":
        return locations
    if kind == "callsign_lookup":
        return f"SELECT * FROM ({callsigns}) WHERE callsign LIKE '{param}%'"
    if kind == "location_trace":
        return f"SELECT * FROM ({locations}) WHERE hex_ident = '{param}'"
    if kind == "time_range":
        lo, hi = param
        return (f"SELECT * EXCLUDE (parsed_date) FROM m WHERE parsed_time "
                f"BETWEEN TIMESTAMPTZ '{lo}+00' AND TIMESTAMPTZ '{hi}+00'")
    if kind == "flights":
        return (
            f"SELECT DISTINCT l.hex_ident, l.parsed_time, l.lon, l.lat, "
            f"l.altitude, cs.callsign FROM ({locations}) l JOIN "
            f"({callsigns}) cs ON l.hex_ident = cs.hex_ident AND "
            f"l.parsed_time <= cs.last_seen + INTERVAL 10 MINUTE AND "
            f"l.parsed_time >= cs.first_seen - INTERVAL 10 MINUTE")
    if kind == "track_lines":
        return (
            "SELECT hex_ident, parsed_time, seq, lon, lat, lon2, lat2 FROM "
            "(SELECT hex_ident, parsed_time, lon, lat, row_number() OVER w "
            "AS seq, lead(lon) OVER w AS lon2, lead(lat) OVER w AS lat2, "
            "lead(parsed_time) OVER w IS NOT NULL AS has_next "
            f"FROM ({locations}) WINDOW w AS (PARTITION BY hex_ident "
            "ORDER BY parsed_time)) WHERE has_next")
    raise ValueError(f"unknown analyst query {kind!r}")


def _flatten(t: pa.Table) -> pa.Table:
    while any(pa.types.is_struct(f.type) for f in t.schema):
        t = t.flatten()
    return t


def _normalize(t: pa.Table, kind: str) -> list[tuple]:
    """Rows of ``t`` as sorted tuples of comparable scalars: structs
    flattened, timestamps as epoch microseconds, dates as days."""
    t = _flatten(t)
    if kind == "track_lines" and "geom.lon" in t.column_names:
        # Spark returns geom/geom2/segment structs; compare the points.
        keep = ["hex_ident", "parsed_time", "seq", "geom.lon", "geom.lat",
                "geom2.lon", "geom2.lat"]
        t = t.select(keep)
    cols = []
    for col in t.columns:
        if pa.types.is_timestamp(col.type):
            col = pc.cast(pc.cast(col, pa.timestamp("us", tz="UTC")),
                          pa.int64())
        elif pa.types.is_date(col.type):
            col = pc.cast(col, pa.int32())
        elif pa.types.is_integer(col.type):
            col = pc.cast(col, pa.int64())
        cols.append(col.to_pylist())
    rows = list(zip(*cols))
    rows.sort(key=lambda r: tuple((v is None, v) for v in r))
    return rows


def check_queries(store: Path, results: dict) -> list[str]:
    """Compare each Spark result in ``results`` ({(kind, param):
    pyarrow.Table}) with DuckDB's answer over ``store``."""
    con = duckdb.connect()
    problems = []
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW m AS SELECT * FROM {_store_sql(store)}")
        for (kind, param), got in results.items():
            want = con.execute(oracle_sql(kind, param)).arrow()
            if _normalize(got, kind) != _normalize(want, kind):
                problems.append(
                    f"{kind}({param}): Spark {got.num_rows} rows differ "
                    f"from DuckDB {want.num_rows} rows")
        return problems
    finally:
        con.close()
