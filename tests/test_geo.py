"""Geo operators: grid-bucketed radius join (equivalence + plan shape)
and WKT/WKB emission."""

import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.geo import (
    haversine_km,
    radius_join,
)


def _points(spark, n=400):
    """Deterministic scatter incl. high latitudes (65°+) where naive
    fixed-lon-width grids under-cover."""
    return spark.range(n).select(
        F.col("id").alias("point_id"),
        (((F.col("id") * 7919) % 14000) / 100.0 - 70.0).alias("lat"),
        (((F.col("id") * 104729) % 34000) / 100.0 - 170.0).alias("lon"),
    )


def _centers(spark):
    """Centers sit ON (offset from) generated points — incl. the
    high-latitude ones — so every radius has matches to verify."""
    rows = []
    for cid, pid in enumerate([3, 57, 111, 222, 333], start=1):
        lat = ((pid * 7919) % 14000) / 100.0 - 70.0
        lon = ((pid * 104729) % 34000) / 100.0 - 170.0
        rows.append((cid, lat + 0.3, lon - 0.4))
    rows.append((99, 69.5, 18.9))  # arctic center far from everything
    return spark.createDataFrame(rows, ["center_id", "clat", "clon"])


@pytest.mark.parametrize("radius", [150.0, 500.0])
def test_radius_join_equals_brute_force(spark, radius):
    pts, ctr = _points(spark), _centers(spark)
    fast = {(r["point_id"], r["center_id"]) for r in radius_join(
        pts, ctr, radius, center_lat="clat", center_lon="clon").collect()}
    brute = {(r["point_id"], r["center_id"]) for r in (
        pts.crossJoin(ctr)
        .withColumn("d", haversine_km(F.col("lat"), F.col("lon"),
                                      F.col("clat"), F.col("clon")))
        .filter(F.col("d") <= radius)).collect()}
    assert fast == brute
    assert len(fast) > 0


def test_radius_join_plans_equi_hash_join(spark):
    pts, ctr = _points(spark), _centers(spark)
    plan = (radius_join(pts, ctr, 200.0, center_lat="clat",
                        center_lon="clon")
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_cell" in plan  # equi key is the packed grid cell


def test_grid_cell_pack_no_collision_at_small_cells(spark):
    # Regression: the old decimal pack (lo*100_000 + la) aliased distinct
    # (lon_idx, lat_idx) cells once 180/cell_deg exceeded 100_000 (radius
    # under ~200 m). These two far-apart points collided under it.
    from dump1090_db_stream_spark.operators.geo import grid_cell

    cell = 0.0009
    rows = [(1, 45.0, -179.991),     # (lo=10,  la=150000) old id 1_150_000
            (2, -45.0, -179.9901)]   # (lo=11,  la=50000)  old id 1_150_000
    df = spark.createDataFrame(rows, ["id", "lat", "lon"]).select(
        "id", grid_cell(F.col("lat"), F.col("lon"), cell).alias("c"))
    cells = {r["id"]: r["c"] for r in df.collect()}
    assert cells[1] != cells[2]


def test_wkt_formatting(spark):
    """WKT text forms: PostGIS-style POINT/LINESTRING with fixed-point
    trimmed coordinates — trailing zeros gone, integers lose the dot,
    negatives and sub-degree precision survive."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.geo import (
        st_astext_line,
        st_astext_point,
        wkt_coord,
    )

    df = spark.createDataFrame(
        [(102.5, 22.2), (-170.0, 0.0), (12.3456789, -0.000001)],
        ["lon", "lat"])
    rows = df.select(
        wkt_coord(F.col("lon")).alias("c"),
        st_astext_point(F.struct(F.col("lon").alias("x"),
                                 F.col("lat").alias("y"))).alias("p"),
    ).collect()
    assert [r["c"] for r in rows] == ["102.5", "-170", "12.345679"]
    assert [r["p"] for r in rows] == [
        "POINT(102.5 22.2)", "POINT(-170 0)",
        "POINT(12.345679 -0.000001)"]

    line = spark.range(1).select(st_astext_line(F.array(
        F.struct(F.lit(0.0).alias("x"), F.lit(0.5).alias("y")),
        F.struct(F.lit(1.25).alias("x"), F.lit(-2.0).alias("y")),
    )).alias("l")).collect()[0]["l"]
    assert line == "LINESTRING(0 0.5,1.25 -2)"


def test_ieee754_le_hex_matches_struct_pack(spark):
    """The WKB coordinate encoder recovers the exact IEEE-754 bytes for
    a spread of magnitudes, signs, and binade-boundary values (where the
    floor(log2) correction matters)."""
    import struct

    from dump1090_db_stream_spark.operators.geo import ieee754_le_hex

    vals = [0.0, 1.5, -170.0, 102.53, 2.0, -2.0, 0.5, -0.07, 169.99,
            1e-3, 123456.789, 4.0, 8.0, 1.9999999999999998,
            2.0000000000000004, -89.999999, 179.999999, 1e-300, -1e300,
            3.141592653589793]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["v"]: r["h"] for r in
           df.select("v", ieee754_le_hex(F.col("v")).alias("h")).collect()}
    for v in vals:
        assert got[v] == struct.pack("<d", v).hex(), v


def test_wkb_point_and_line_decode(spark):
    """Emitted WKB parses back byte-for-byte: header, type, count, and
    coordinates."""
    import struct

    from dump1090_db_stream_spark.operators.geo import (
        st_asbinary_line,
        st_asbinary_point,
    )

    df = spark.createDataFrame([(102.53, -46.55), (-0.07, 51.47)],
                               ["lon", "lat"])
    xy = F.struct(F.col("lon").alias("x"), F.col("lat").alias("y"))
    pts = df.select(
        "lon", "lat",
        st_asbinary_point(xy).alias("wkb"),
    ).collect()
    for r in pts:
        b = bytes(r["wkb"])
        assert b[0] == 1 and struct.unpack("<I", b[1:5])[0] == 1
        assert struct.unpack("<dd", b[5:21]) == (r["lon"], r["lat"])

    line = (df.agg(F.array_sort(F.collect_list(
                F.struct(F.col("lon").alias("x"), F.col("lat").alias("y"))))
            .alias("pts"))
            .select(st_asbinary_line(F.col("pts")).alias("wkb"))).first()
    b = bytes(line["wkb"])
    assert b[0] == 1 and struct.unpack("<I", b[1:5])[0] == 2
    n = struct.unpack("<I", b[5:9])[0]
    assert n == 2 and len(b) == 9 + 16 * n
    coords = struct.unpack("<" + "d" * (2 * n), b[9:])
    assert coords == (-0.07, 51.47, 102.53, -46.55)


def _enc_df(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(i, uid, t0 + dt.timedelta(seconds=s), la, lo)
         for i, (uid, s, la, lo) in enumerate(rows)],
        ["event_id", "user_id", "ts", "lat", "lon"])


def test_close_encounters_finds_planted_pair(spark):
    from dump1090_db_stream_spark.operators.geo import close_encounters

    df = _enc_df(spark, [
        (1, 0, 50.0, 10.0),      # id 0
        (2, 60, 50.05, 10.05),   # id 1: ~6.6 km, 60 s later -> pair
        (1, 30, 50.0, 10.0),     # id 2: same user as id 0 -> excluded
        (3, 5000, 50.0, 10.0),   # id 3: outside the window
        (4, 120, 20.0, 10.0),    # id 4: far away
    ])
    got = close_encounters(df, dist_km=50.0, window_seconds=600).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # (0,1): cross-user, near, 60 s apart. (1,2): id 2 is user 1's
    # second ping — cross-user vs id 1, 30 s apart, ~6.6 km. (0,2) is
    # SAME user -> excluded; 3 is outside the window; 4 is 3000+ km out.
    assert pairs == {(0, 1), (1, 2)}
    r = next(r for r in got if (r["id_a"], r["id_b"]) == (0, 1))
    assert r["dt_sec"] == 60.0 and 6.0 < r["distance_km"] < 8.0
    r12 = next(r for r in got if (r["id_a"], r["id_b"]) == (1, 2))
    assert r12["dt_sec"] == -30.0  # signed: id 2 precedes id 1


def test_close_encounters_wraps_antimeridian(spark):
    from dump1090_db_stream_spark.operators.geo import close_encounters

    # 0.2 degrees of longitude apart ACROSS the +-180 line (~18 km at
    # lat 35): a non-wrapping grid cannot join these cells
    df = _enc_df(spark, [
        (1, 0, 35.0, 179.9),
        (2, 30, 35.0, -179.9),
    ])
    got = close_encounters(df, dist_km=50.0, window_seconds=600).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(0, 1)]
    assert got[0]["distance_km"] < 20.0


def test_close_encounters_emits_each_pair_once(spark):
    from dump1090_db_stream_spark.operators.geo import close_encounters

    # identical position and time bucket: candidate match possible in
    # many (bucket, cell) combos — output must still be one row per pair
    df = _enc_df(spark, [(u, s, 40.0, 8.0)
                         for u in (1, 2, 3) for s in (0, 10)])
    got = close_encounters(df, dist_km=10.0, window_seconds=600).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in got]
    assert len(pairs) == len(set(pairs))
    # 6 events, 3 users x 2: cross-user pairs = C(6,2)=15 minus 3 same-user
    assert len(pairs) == 12


def test_close_encounters_plans_equi_join(spark):
    from dump1090_db_stream_spark.operators.geo import close_encounters

    df = _enc_df(spark, [(1, 0, 50.0, 10.0), (2, 60, 50.05, 10.05)])
    plan = (close_encounters(df, 50.0, 600)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_close_encounters_matches_brute_force_across_buckets(spark):
    """Seals the 2-time-bucket pairing discipline (b explodes {tb-1, tb}
    with a as the (t, id)-earlier event): a deterministic swarm spread
    over ~7 time buckets, including same-timestamp events and pairs
    whose id order disagrees with time order, must equal the O(n^2)
    brute force exactly — ids, labels, signed dt, and distance."""
    import math

    from dump1090_db_stream_spark.operators.geo import close_encounters

    # the (j*97) % 2000 timestamp scramble makes id order disagree with
    # time order for most pairs (ids are sequential; times are not) —
    # the disagreement is what exercises the conditional-swap relabel
    rows = []
    n = 40
    for j in range(n):
        rows.append((j % 7,                 # user
                     (j * 97) % 2000,       # seconds: spans many buckets
                     50.0 + 0.01 * (j % 11),
                     10.0 + 0.01 * (j % 13)))
    df = _enc_df(spark, rows)
    got = {(r["id_a"], r["id_b"]): (r["obj_a"], r["obj_b"], r["dt_sec"],
                                    r["distance_km"])
           for r in close_encounters(
               df, dist_km=5.0, window_seconds=300).collect()}

    raw = df.collect()

    def hav(a, b):
        r = 6371.0088
        p1, p2 = math.radians(a["lat"]), math.radians(b["lat"])
        dp = p2 - p1
        dl = math.radians(b["lon"] - a["lon"])
        h = (math.sin(dp / 2) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
        return 2 * r * math.asin(math.sqrt(h))

    want = {}
    for x in raw:
        for y in raw:
            if x["event_id"] >= y["event_id"] or x["user_id"] == y["user_id"]:
                continue
            dt_s = (y["ts"] - x["ts"]).total_seconds()
            if abs(dt_s) <= 300 and hav(x, y) <= 5.0:
                want[(x["event_id"], y["event_id"])] = (
                    x["user_id"], y["user_id"], dt_s,
                    round(hav(x, y), 2))
    assert set(got) == set(want)
    assert len(want) > 20  # the scenario actually exercises pairs
    for k, (oa, ob, dt_s, d) in want.items():
        goa, gob, gdt, gd = got[k]
        assert (goa, gob) == (oa, ob) and gdt == dt_s
        assert abs(gd - d) <= 0.01  # haversine radius convention slack


def test_close_encounters_ragged_seam_cell(spark):
    from dump1090_db_stream_spark.operators.geo import close_encounters

    # cell_deg = 2000/111.195 never divides 360, so the wrapped ring's
    # LAST cell is only ~0.27 deg wide: these two points (~44 km apart
    # at the equator, straddling +-180) sit one extra cell-boundary
    # apart than the uniform-width budget predicts — the regression
    # the +1 widening under wrap_lon exists for
    df = _enc_df(spark, [
        (1, 0, 0.0, 179.70),
        (2, 60, 0.0, -179.90),
    ])
    got = close_encounters(df, dist_km=2000.0, window_seconds=600).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(0, 1)]
    assert got[0]["distance_km"] < 50.0
