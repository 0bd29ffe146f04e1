"""Property-based tests (hypothesis): invariants that hold for ALL
inputs, not just the golden fixtures.

Examples are batched into ONE Spark job per test (hypothesis generates a
list, Spark processes it as one DataFrame) so runtime stays bounded.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dump1090_db_stream_spark.functions.parser import (
    REJECT_WIDTH,
    parse_sbs1,
    parse_sbs1_tagged,
)

# A wire "field": printable, no comma/newline (the CSV delimiters).
field = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                           exclude_characters=",\n\r"),
    max_size=8)


@st.composite
def wire_line(draw):
    n_fields = draw(st.integers(min_value=1, max_value=30))
    return ",".join(draw(field) for _ in range(n_fields))


@settings(max_examples=5, deadline=None)
@given(st.lists(wire_line(), min_size=1, max_size=200))
def test_parser_never_crashes_and_keeps_width_invariant(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    # layer 1 — width filter only (F-4): the tagged rows not rejected
    # on width. Exactly the 22-field lines survive; no input can crash
    # the parse (F-8 try_cast).
    raw = (parse_sbs1_tagged(df)
           .filter(F.col("reject_reason").isNull()
                   | (F.col("reject_reason") != REJECT_WIDTH))
           .collect())
    n_22 = sum(1 for ln in lines if len(ln.split(",")) == 22)
    assert len(raw) == n_22
    for r in raw:
        assert r.altitude is None or isinstance(r.altitude, int)
        assert r.ground_speed is None or isinstance(r.ground_speed, int)
    # layer 2 — parse_sbs1 adds NOT NULL enforcement (the reference's
    # INSERT-rejection semantics): a subset of layer 1, with the
    # required columns always present.
    full = parse_sbs1(df).collect()
    assert len(full) <= n_22
    for r in full:
        assert r.hex_ident is not None
        assert r.transmission_type is not None
        assert r.generated_date is not None and r.generated_time is not None


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.sampled_from("ABC"),
                       st.integers(min_value=0, max_value=50)),
             min_size=1, max_size=40),
    st.lists(st.tuples(st.sampled_from("ABC"),
                       st.integers(min_value=0, max_value=50),
                       st.floats(min_value=0, max_value=10,
                                 allow_nan=False)),
             min_size=0, max_size=40),
)
def test_asof_join_equals_naive_oracle(spark, left_rows, right_rows):
    from dump1090_db_stream_spark.operators.sessions import asof_join

    # dedup right on (key, ts) — the operator's documented precondition
    # (ambiguous ties otherwise); keep the max value like a last-wins feed
    rmap: dict[tuple[str, int], float] = {}
    for k, t, v in right_rows:
        rmap[(k, t)] = max(v, rmap.get((k, t), float("-inf")))
    rclean = [(k, t, v) for (k, t), v in rmap.items()]

    left = spark.createDataFrame(left_rows, ["k", "t"])
    right = spark.createDataFrame(rclean, ["k", "t", "v"]) if rclean else \
        spark.createDataFrame([], "k string, t long, v double")
    got = {}
    for r in asof_join(left, right, key="k", left_ts="t").collect():
        got.setdefault((r.k, r.t), set()).add(r.v_asof)

    for k, t in set(left_rows):
        preceding = [(rt, v) for (rk, rt), v in rmap.items()
                     if rk == k and rt <= t]
        want = max(preceding)[1] if preceding else None
        assert got[(k, t)] == {want}, (k, t)


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-84.0, max_value=84.0,
                      allow_nan=False, allow_infinity=False),
            st.floats(min_value=-170.0, max_value=170.0,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1, max_size=40,
    ),
    st.floats(min_value=10.0, max_value=800.0,
              allow_nan=False, allow_infinity=False),
)
def test_radius_join_cell_cover_is_lossless(spark, coords, radius):
    """For ANY scatter of points (centers = the same scatter, so every
    point matches at least itself) and ANY radius, the grid-bucketed
    radius join returns exactly the brute-force within-radius set —
    the cell cover never drops a pair, at any latitude."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.geo import (
        haversine_km,
        radius_join,
    )

    pts = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(coords)],
        ["point_id", "lat", "lon"])
    ctr = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(coords)],
        ["center_id", "clat", "clon"])
    fast = {(r["point_id"], r["center_id"]) for r in radius_join(
        pts, ctr, radius, center_lat="clat", center_lon="clon").collect()}
    brute = {(r["point_id"], r["center_id"]) for r in (
        pts.crossJoin(ctr)
        .withColumn("d", haversine_km(F.col("lat"), F.col("lon"),
                                      F.col("clat"), F.col("clon")))
        .filter(F.col("d") <= radius)).collect()}
    assert fast == brute
    assert len(fast) >= len(coords)  # self-pairs always inside


# --- seeded portable hash: Spark expression == SQL twin (DuckDB) ---

@settings(max_examples=3, deadline=None)
@given(st.lists(st.integers(min_value=-2**40, max_value=2**40),
                min_size=1, max_size=50, unique=True),
       st.integers(min_value=0, max_value=10_000))
def test_portable_hash_seeded_matches_duckdb(spark, ids, seed):
    import duckdb

    from dump1090_db_stream_spark.operators.sampling import (
        portable_hash_seeded,
        portable_hash_seeded_sql,
    )

    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {r["id"]: r["h"] for r in df.select(
        "id", portable_hash_seeded("id", seed).alias("h")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    sql = f"SELECT id, {portable_hash_seeded_sql('id', seed)} AS h FROM t"
    want = dict(con.execute(sql).fetchall())
    assert got == want


# --- chunking: stitching chunks reproduces the token stream ---

@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=120),
                min_size=1, max_size=40),
       st.integers(min_value=2, max_value=16),
       st.integers(min_value=0, max_value=8))
def test_chunking_covers_every_token(spark, doc_lens, chunk, overlap):
    from hypothesis import assume

    from dump1090_db_stream_spark.operators.packing import chunk_documents

    assume(overlap < chunk)
    docs = [(i, " ".join(f"w{i}x{j}" for j in range(n)))
            for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    step = chunk - overlap
    by_doc: dict[int, dict[int, list[str]]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_index"]] = (
            r["chunk_text"].split(" "))
    for (i, text) in docs:
        toks = text.split(" ")
        chunks = by_doc[i]
        # stitch: chunk 0 whole, then drop each chunk's first `overlap`
        stitched = list(chunks[0])
        for ci in range(1, len(chunks)):
            stitched.extend(chunks[ci][overlap:])
        assert stitched == toks
        # every chunk except the last is exactly `chunk` tokens
        for ci in range(len(chunks) - 1):
            assert len(chunks[ci]) == chunk


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(min_value=-1e7, max_value=1e7,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=40),
       st.sampled_from([0.0, 0.25, 0.5, 0.9, 0.95, 1.0]))
def test_disc_quantile_matches_numpy_lower(values, q):
    """The discrete quantile (element at floor(q*(n-1))) must equal
    numpy's 'lower' interpolation for every value list and q — the
    definition both the Spark side and the DuckDB oracle implement."""
    import math

    import numpy as np

    arr = sorted(values)
    want = float(np.percentile(np.asarray(arr), q * 100,
                               method="lower"))
    got = arr[math.floor(q * (len(arr) - 1))]
    assert got == want


@settings(max_examples=25, deadline=None)
@given(st.floats(min_value=-180.0, max_value=180.0,
                 allow_nan=False))
def test_wkt_coord_formatting_matches_python_reference(x):
    """WKT coordinate text must equal the closed-form Python reference
    (fixed %.6f then trim) for any coordinate — the exact contract the
    DuckDB oracle replays."""
    import re

    ref = re.sub(r"\.$", "", re.sub(r"0+$", "", f"{x:.6f}"))
    from tests.conftest import _WKT_RESULTS

    _WKT_RESULTS.append((x, ref))


def test_wkt_coord_formatting_spark_batch(spark):
    """Evaluate all hypothesis-generated coordinates in ONE Spark job
    and compare to the Python %.6f-trim reference."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.geo import wkt_coord
    from tests.conftest import _WKT_RESULTS

    if not _WKT_RESULTS:
        return
    df = spark.createDataFrame(
        [(i, float(x)) for i, (x, _) in enumerate(_WKT_RESULTS)],
        ["i", "x"])
    got = {r["i"]: r["s"] for r in df.select(
        "i", wkt_coord(F.col("x")).alias("s")).collect()}
    for i, (_, ref) in enumerate(_WKT_RESULTS):
        assert got[i] == ref, (i, _WKT_RESULTS[i])


@settings(max_examples=5, deadline=None)
@given(st.lists(
    st.text(alphabet="abcX", min_size=0, max_size=12),
    min_size=2, max_size=25, unique=True),
    st.integers(min_value=1, max_value=2))
def test_edit_distance_join_equals_brute_force(spark, strings, k):
    """The q-gram prefix filter must lose NO pair for arbitrary strings
    — including empty strings, single chars, and heavy duplicate-gram
    content ('aaaa...') — at k in {1, 2}."""
    from dump1090_db_stream_spark.operators.fuzzy import edit_distance_join

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expect = {(i, j, lev(a, b))
              for i, a in enumerate(strings)
              for j, b in enumerate(strings)
              if i < j and lev(a, b) <= k}
    df = spark.createDataFrame(list(enumerate(strings)), ["sid", "s"])
    got = {(r.id1, r.id2, r.dist)
           for r in edit_distance_join(df, "sid", "s", k=k).collect()}
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 2),          # key
              st.integers(0, 20),         # time slot
              st.sampled_from("abc")),    # value
    min_size=1, max_size=60))
def test_value_runs_invariants_vs_python_reference(spark, rows):
    """For ANY change log: runs chain half-open, n_rows sums to the
    input count, consecutive runs differ in value, and the coalesced
    sequence equals a brute-force Python run-length encoding."""
    import datetime as dt

    from dump1090_db_stream_spark.operators.sessions import value_runs

    t0 = dt.datetime(2024, 1, 1)
    data = [(i, k, t0 + dt.timedelta(hours=s), v)
            for i, (k, s, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "event_id long, key long, ts timestamp, v string")
    got = value_runs(df, "key", "ts", "v", "event_id").collect()

    # python reference: sort by (ts, event_id) per key, run-length encode
    by_key = {}
    for (i, k, ts, v) in data:
        by_key.setdefault(k, []).append((ts, i, v))
    want = {}
    for k, evs in by_key.items():
        evs.sort()
        runs = []
        for ts, i, v in evs:
            if runs and runs[-1][0] == v:
                runs[-1][2] += 1
            else:
                runs.append([v, ts, 1])
        want[k] = runs

    assert sum(r["n_rows"] for r in got) == len(data)
    got_by_key = {}
    for r in got:
        got_by_key.setdefault(r["key"], []).append(r)
    for k, rs in got_by_key.items():
        rs.sort(key=lambda r: r["run"])
        assert [r["run"] for r in rs] == list(range(1, len(rs) + 1))
        assert [(r["v"], r["valid_from"], r["n_rows"]) for r in rs] == \
            [tuple(x) for x in want[k]]
        for a, b in zip(rs, rs[1:]):
            assert a["v"] != b["v"]            # coalesced: values change
            assert a["valid_to"] == b["valid_from"]  # half-open chain
        assert rs[-1]["valid_to"] is None      # open current run


@settings(max_examples=5, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 1),           # key
              st.integers(0, 12),          # bucket
              st.floats(-100, 100, allow_nan=False, width=32)),
    min_size=1, max_size=40))
def test_gap_fill_invariants_vs_python_reference(spark, rows):
    """For ANY observation set: the grid is dense per key, n_obs sums
    to input rows, LOCF equals the most recent bucket average, and
    interpolation is exact in bucket space (within rounding)."""
    import datetime as dt

    from dump1090_db_stream_spark.operators.timeseries import gap_fill

    t0 = dt.datetime(2024, 1, 1)
    data = [(i, k, t0 + dt.timedelta(hours=b), float(v))
            for i, (k, b, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "event_id long, key long, ts timestamp, value double")
    got = gap_fill(df, "ts", ["key"], "value", 3600).collect()

    by_key = {}
    for (_, k, ts, v) in data:
        b = int((ts - t0).total_seconds()) // 3600
        by_key.setdefault(k, {}).setdefault(b, []).append(v)
    assert sum(r["n_obs"] for r in got) == len(data)
    got_by_key = {}
    for r in got:
        b = int((r["bucket_start"] - t0).total_seconds()) // 3600
        got_by_key.setdefault(r["key"], {})[b] = r
    for k, obs in by_key.items():
        lo, hi = min(obs), max(obs)
        assert sorted(got_by_key[k]) == list(range(lo, hi + 1))  # dense
        for b in range(lo, hi + 1):
            r = got_by_key[k][b]
            if b in obs:
                avg = sum(obs[b]) / len(obs[b])
                assert abs(r["value_avg"] - avg) < 1e-6
                assert abs(r["value_locf"] - avg) < 1e-6
                assert abs(r["value_interp"] - avg) < 1e-6
            else:
                prev = max(x for x in obs if x < b)
                nxt = min(x for x in obs if x > b)
                pv = sum(obs[prev]) / len(obs[prev])
                nv = sum(obs[nxt]) / len(obs[nxt])
                want = pv + (nv - pv) * (b - prev) / (nxt - prev)
                assert r["value_avg"] is None and r["n_obs"] == 0
                assert abs(r["value_locf"] - pv) < 1e-6
                assert abs(r["value_interp"] - want) < 1e-6


@settings(max_examples=4, deadline=None)
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=8, max_size=30),
    st.lists(st.sampled_from("qrstuvwx"), min_size=8, max_size=30),
    st.integers(min_value=0, max_value=6),
)
def test_winnowing_shared_run_guarantee(spark, a_words, b_words, cut):
    """The winnowing GUARANTEE (Schleimer et al. thm. 1): any run of
    >= w+k-1 shared tokens produces at least one shared fingerprint.
    Random docs share a random slice of doc A longer than the
    threshold; position-independence of the shared-hash content is the
    property under test (positions differ between docs — only the
    fingerprint VALUES must intersect)."""
    from dump1090_db_stream_spark.operators.text import winnow_fingerprints

    k, w = 3, 4
    run_len = w + k - 1
    cut = min(cut, len(a_words) - run_len)
    shared = a_words[cut:cut + run_len]
    b_full = b_words[: len(b_words) // 2] + shared \
        + b_words[len(b_words) // 2:]
    df = spark.createDataFrame(
        [(0, " ".join(a_words)), (1, " ".join(b_full))],
        ["doc_id", "text"])
    out = winnow_fingerprints(df, k=k, w=w).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[0] & fps[1]
