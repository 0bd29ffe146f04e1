#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, compare row-count + column names +
order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
from decimal import Decimal

# The checkout this script lives in. It goes on PYTHONPATH as well as
# sys.path, before the JVM starts: Spark's Python workers inherit the
# environment, not the driver's sys.path, and must import the package
# from any working directory.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from dump1090_db_stream_spark import get_spark  # noqa: E402
from dump1090_db_stream_spark.sources.tables import TABLES  # noqa: E402


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return repr(v)


def _norm_spark_type(t: str) -> str:
    """Collapse a Spark simpleString type to a comparable logical family."""
    t = t.lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"  # driver hash tolerates integer width up to 64-bit
    if t in ("float", "double"):
        return "float"
    if t.startswith("decimal"):
        return t  # keep precision/scale: driver hash is sensitive to it
    if t.startswith("timestamp"):
        return "timestamp"
    if t in ("string", "varchar"):
        return "string"
    return t


def _norm_duck_type(t: str) -> str:
    """Collapse a DuckDB type id (cursor description) to the same families."""
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER"):
        return "int"
    if t == "HUGEINT":
        return "int128"  # never matches a Spark type -> flags the bug
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t in ("VARCHAR", "STRING"):
        return "string"
    if t == "DATE":
        return "date"
    if t == "BOOLEAN":
        return "boolean"
    return t.lower()


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_fail = 0
    # one build per distinct builder: names registered to the same
    # function (bpe_merges_k64 and bpe_merges_k64_local) share its rows
    built: dict = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            if fn not in built:
                sdf = fn(spark, sf_dir)
                built[fn] = (sdf, [tuple(r) for r in sdf.collect()])
            sdf, srows = built[fn]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            ok = False
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}")
            ok = False
        # Type-aware check: the driver hashes values WITH their types, so a
        # DuckDB HUGEINT (sum of INTEGER) vs a Spark BIGINT is a hash
        # mismatch even when the numbers are equal.  repr() erases that, so
        # compare normalized logical types per column name explicitly.
        if ok:
            stypes = {f.name: _norm_spark_type(f.dataType.simpleString())
                      for f in sdf.schema.fields}
            dty = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            dtypes = {r[0]: _norm_duck_type(str(r[1])) for r in dty}
            bad = {c: (stypes[c], dtypes[c]) for c in stypes
                   if c in dtypes and stypes[c] != dtypes[c]}
            if bad:
                print(f"FAIL {name}: type mismatch (spark, duckdb): {bad}")
                ok = False
        if ok:
            _, sc = canon(scols, srows)
            _, dc = canon(dcols, drows)
            if sc != dc:
                diffs = [
                    (a, b) for a, b in zip(sc, dc) if a != b
                ][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diffs}")
                ok = False
        if ok:
            print(f"OK   {name}: {len(srows)} rows")
        else:
            n_fail += 1
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
