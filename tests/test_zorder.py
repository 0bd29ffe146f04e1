"""operators.zorder — Morton keys, checked against an independent
pure-Python bit-interleave."""

from __future__ import annotations

from dump1090_db_stream_spark.operators.zorder import (
    quantize_uniform,
    zvalue,
)


def ref_morton(vals: list[int], bits: int) -> int:
    out = 0
    for i, v in enumerate(vals):
        for b in range(bits):
            out |= ((v >> b) & 1) << (b * len(vals) + i)
    return out


def test_zvalue_matches_reference_interleave(spark):
    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255), (170, 85)]
    df = spark.createDataFrame(cases, ["x", "y"])
    got = {(r["x"], r["y"]): r["zv"] for r in
           df.withColumn("zv", zvalue(["x", "y"], bits=8)).collect()}
    for x, y in cases:
        assert got[(x, y)] == ref_morton([x, y], 8), (x, y)


def test_zvalue_null_coalesces_low_and_width_guard(spark):
    df = spark.createDataFrame([(None, 3)], "x int, y int")
    r = df.withColumn("zv", zvalue(["x", "y"], bits=8)).collect()[0]
    assert r["zv"] == ref_morton([0, 3], 8)
    try:
        zvalue(["x", "y"], bits=32)  # 64 bits > 62
        raise AssertionError("width guard did not fire")
    except ValueError:
        pass


def test_quantize_clamps_and_buckets(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (250.0,), (499.9,), (500.0,), (9999.0,)], ["v"])
    out = [r["q"] for r in df.withColumn(
        "q", quantize_uniform("v", 0.0, 500.0, 4)).collect()]
    assert out[0] == 0 and out[1] == 0            # clamp low / lo edge
    assert out[2] == 8                            # midpoint -> mid bucket
    assert out[3] == 15 and out[4] == 15 and out[5] == 15  # clamp high
    # monotone: higher value never gets a lower bucket
    assert out == sorted(out)
