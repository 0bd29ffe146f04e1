"""Table profiling (operators.profiling) on a hand-built table."""

from __future__ import annotations

import datetime as dt

from dump1090_db_stream_spark.operators.profiling import table_profile


def _tbl(spark):
    return spark.createDataFrame(
        [(1, "a", 2.5, dt.date(2024, 1, 1)),
         (2, "b", None, dt.date(2024, 1, 2)),
         (3, None, 10.0, dt.date(2024, 1, 3)),
         (4, "a", -1.0, None)],
        ["k", "s", "v", "d"])


def test_profile_counts_and_typed_minmax(spark):
    got = {r["column"]: r for r in table_profile(_tbl(spark)).collect()}
    assert set(got) == {"k", "s", "v", "d"}
    assert all(r["n_rows"] == 4 for r in got.values())
    assert (got["k"]["n_null"], got["s"]["n_null"],
            got["v"]["n_null"], got["d"]["n_null"]) == (0, 1, 1, 1)
    assert got["s"]["n_distinct"] == 2  # NULL not a distinct value
    assert got["v"]["min_num"] == -1.0 and got["v"]["max_num"] == 10.0
    # numeric columns never report lexical strings, and vice versa
    assert got["v"]["min_str"] is None and got["k"]["min_str"] is None
    assert got["s"]["min_num"] is None
    assert got["s"]["min_str"] == "a" and got["s"]["max_str"] == "b"
    assert got["d"]["min_str"] == "2024-01-01"


def test_profile_numeric_min_is_numeric_not_lexical(spark):
    # the classic profiling bug: lexically "10" < "9"
    df = spark.createDataFrame([(9,), (10,)], ["x"])
    r = table_profile(df).collect()[0]
    assert r["min_num"] == 9.0 and r["max_num"] == 10.0


def test_profile_scans_table_once(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = (table_profile(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("FileScan") == 1


def test_profile_approx_distinct_close(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = {r["column"]: r["n_distinct"]
             for r in table_profile(df, distinct_mode="exact").collect()}
    approx = {r["column"]: r["n_distinct"]
              for r in table_profile(df).collect()}  # default = approx
    for c, n in exact.items():
        assert abs(approx[c] - n) <= max(2, 0.1 * n), c


def test_profile_portable_distinct_estimates(spark, sf_dir):
    """The portable tier's estimate is a real estimate on cardinalities
    >> rate (within 35% on the orders key columns at rate=8) and the
    non-distinct stats are identical to the exact tier."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = {r["column"]: r for r in
             table_profile(df, distinct_mode="exact").collect()}
    port = {r["column"]: r for r in
            table_profile(df, distinct_mode="portable", rate=8).collect()}
    for c in ("o_orderkey", "o_totalprice"):
        n = exact[c]["n_distinct"]
        assert abs(port[c]["n_distinct"] - n) <= 0.35 * n, (c, n)
    for c, r in exact.items():
        for f in ("n_rows", "n_null", "min_num", "max_num",
                  "min_str", "max_str"):
            assert port[c][f] == r[f], (c, f)


def test_profile_portable_and_approx_plan_no_expand(spark, sf_dir):
    """The scale tiers must not plan an Expand: N simultaneous
    COUNT(DISTINCT)s multiply every row x(n_cols+1) before the shuffle
    — the exact tier's 100 TB hazard these tiers exist to remove."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for mode in ("approx", "portable"):
        plan = (table_profile(df, distinct_mode=mode)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Expand" not in plan, mode
    exact_plan = (table_profile(df, distinct_mode="exact")
                  ._jdf.queryExecution().executedPlan().toString())
    assert "Expand" in exact_plan  # the contrast that proves the claim


def test_profile_rejects_unknown_mode(spark):
    import pytest

    with pytest.raises(ValueError, match="distinct_mode"):
        table_profile(_tbl(spark), distinct_mode="sketchy")


def test_profile_column_subset(spark):
    got = table_profile(_tbl(spark), cols=["k", "v"]).collect()
    assert sorted(r["column"] for r in got) == ["k", "v"]


def test_histogram_equiwidth_bins_and_closed_last_bin(spark):
    from dump1090_db_stream_spark.operators.profiling import value_histogram

    # values 0..10 over [0,10] with 2 bins: [0,5) and [5,10] — the max
    # value lands in the LAST bin, not a phantom bin 2
    df = spark.createDataFrame([(float(v),) for v in range(11)], ["value"])
    got = {r["bin"]: r for r in
           value_histogram(df, "value", n_bins=2).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n"] == 5 and got[1]["n"] == 6
    assert (got[0]["bin_lo"], got[0]["bin_hi"]) == (0.0, 5.0)
    assert (got[1]["bin_lo"], got[1]["bin_hi"]) == (5.0, 10.0)


def test_histogram_degenerate_extent_single_bin(spark):
    from dump1090_db_stream_spark.operators.profiling import value_histogram

    df = spark.createDataFrame([(7.0,), (7.0,)], ["value"])
    got = value_histogram(df, "value", n_bins=4).collect()
    assert len(got) == 1
    assert got[0]["bin"] == 0 and got[0]["n"] == 2
    assert got[0]["bin_lo"] == 7.0 and got[0]["bin_hi"] == 7.0


def test_histogram_per_key_extents_and_null_exclusion(spark):
    from dump1090_db_stream_spark.operators.profiling import value_histogram

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 100.0), ("b", 0.0), ("b", 1.0), ("b", None)],
        ["k", "value"])
    got = {(r["k"], r["bin"]): r for r in
           value_histogram(df, "value", ["k"], n_bins=2).collect()}
    # each key bins over ITS OWN min/max; the null row is simply absent
    assert got[("a", 0)]["bin_hi"] == 50.0
    assert got[("b", 0)]["bin_hi"] == 0.5
    assert sum(r["n"] for (k, _), r in got.items() if k == "b") == 2


def test_check_expectations_verdicts_and_one_scan(spark):
    import pytest
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.profiling import (
        check_expectations,
    )

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.DoubleType()),
                           T.StructField("cat", T.StringType())])
    df = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "a"), (3, None, "b"),
         (4, 9.0, "weird"), (4, 3.0, "a")],  # duplicate id 4
        schema)
    rules = [
        {"name": "v_nulls", "type": "not_null", "column": "v",
         "max_null_frac": 0.25},
        {"name": "v_floor", "type": "min_value", "column": "v",
         "threshold": 0.0},
        {"name": "v_cap", "type": "max_value", "column": "v",
         "threshold": 5.0},
        {"name": "cat_ok", "type": "accepted", "column": "cat",
         "values": ["a", "b"], "max_other_frac": 0.1},
        {"name": "id_uniq", "type": "unique", "column": "id"},
        {"name": "rows", "type": "row_count_min", "threshold": 3},
    ]
    got = {r["rule"]: r for r in check_expectations(df, rules).collect()}
    assert got["v_nulls"]["passed"] is True          # 1/5 = 0.2 <= 0.25
    assert got["v_nulls"]["metric"] == 0.2
    assert got["v_floor"]["passed"] is True
    assert got["v_cap"]["passed"] is False           # max 9.0 > 5.0
    assert got["cat_ok"]["passed"] is False          # 1/5 outside > 0.1
    assert got["id_uniq"]["passed"] is False         # dup id 4
    assert got["id_uniq"]["metric"] == 0.2           # 1 - 4/5
    assert got["rows"]["passed"] is True and got["rows"]["metric"] == 5.0
    assert got["rows"]["column"] is None
    # single scan: exactly one aggregate over one FileScan-free local
    # relation; the plan carries no join and one Exchange at most
    plan = check_expectations(df, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    with pytest.raises(ValueError, match="unique"):
        check_expectations(df, rules + [rules[0]])
    with pytest.raises(ValueError, match="unknown rule type"):
        check_expectations(df, [{"name": "x", "type": "nope"}])


def test_check_expectations_fails_closed_on_empty_populations(spark):
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.profiling import (
        check_expectations,
    )

    schema = T.StructType([T.StructField("a", T.LongType()),
                           T.StructField("s", T.StringType())])
    rules = [
        {"name": "a_nn", "type": "not_null", "column": "a",
         "max_null_frac": 0.5},
        {"name": "s_acc", "type": "accepted", "column": "s",
         "values": ["x"], "max_other_frac": 0.0},
        {"name": "s_uni", "type": "unique", "column": "s"},
        {"name": "a_min", "type": "min_value", "column": "a",
         "threshold": 0},
        {"name": "rows", "type": "row_count_min", "threshold": 1},
    ]
    # EMPTY table: every zero-denominator / NULL-comparison verdict is
    # a concrete False (advisor r5: a NULL `passed` gate is misread as
    # passing by consumers checking only passed == false)
    empty = spark.createDataFrame([], schema)
    got = {r["rule"]: r for r in check_expectations(empty, rules).collect()}
    for nm in ("a_nn", "s_acc", "s_uni", "a_min", "rows"):
        assert got[nm]["passed"] is False, nm
    # metric stays NULL where the population was empty (signals "no
    # data", not a real 0) — row_count_min is a real measured 0
    assert got["a_nn"]["metric"] is None
    assert got["rows"]["metric"] == 0.0
    # all-NULL column, non-empty table: accepted/unique denominators
    # are 0 -> fail; not_null measures a real 1.0 null fraction
    nulls = spark.createDataFrame([(None, None), (None, None)], schema)
    got = {r["rule"]: r for r in check_expectations(nulls, rules).collect()}
    assert got["s_acc"]["passed"] is False
    assert got["s_uni"]["passed"] is False
    assert got["a_nn"]["passed"] is False and got["a_nn"]["metric"] == 1.0
    assert got["rows"]["passed"] is True


def test_psi_drift_detects_planted_shift(spark):
    import pytest
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.profiling import psi_drift

    # reference: N(0-ish) uniform over [0, 100); current group "a"
    # identical (stable), group "b" shifted hard right (major)
    ref = spark.createDataFrame(
        [(g, float((i * 37) % 100)) for g in ("a", "b")
         for i in range(500)], ["g", "v"])
    cur_a = [("a", float((i * 37) % 100)) for i in range(500)]
    cur_b = [("b", 80.0 + float((i * 13) % 20)) for i in range(500)]
    cur = spark.createDataFrame(cur_a + cur_b, ["g", "v"])
    got = {r["g"]: r for r in psi_drift(ref, cur, "v",
                                        keys=["g"]).collect()}
    assert got["a"]["verdict"] == "stable" and got["a"]["psi"] < 0.01
    assert got["b"]["verdict"] == "major" and got["b"]["psi"] > 1.0
    assert got["b"]["n_ref"] == 500 and got["b"]["n_cur"] == 500
    # out-of-range current values clamp into edge bins, not vanish
    wild = spark.createDataFrame([("a", 1e9)] * 10 + cur_a[:90],
                                 ["g", "v"])
    one = psi_drift(ref.filter("g='a'"), wild, "v", keys=["g"]).collect()
    assert one[0]["n_cur"] == 100
    # keyless global form + validation
    g = psi_drift(ref, cur, "v").collect()
    assert len(g) == 1 and g[0]["psi"] > 0
    with pytest.raises(ValueError, match="n_bins"):
        psi_drift(ref, cur, "v", n_bins=1)


# --- exact_quantiles_by (distributed type-1 quantiles) --------------------


def _type1(vals, p):
    import math as _m
    vs = sorted(vals)
    k = max(1, _m.ceil(p * float(len(vs))))
    return vs[k - 1]


def test_exact_quantiles_match_type1_reference(spark):
    from dump1090_db_stream_spark.operators.profiling import (
        exact_quantiles_by,
    )

    rows = [("a", float((i * 17) % 101)) for i in range(150)] + \
           [("b", float((i * 13) % 53)) for i in range(80)]
    df = spark.createDataFrame(rows, "g string, v double")
    probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    got = {(r["g"], r["prob"]): r["q"] for r in
           exact_quantiles_by(df, "v", keys=["g"],
                              probs=probs).collect()}
    for g in ("a", "b"):
        vals = [v for gg, v in rows if gg == g]
        for p in probs:
            assert got[(g, p)] == _type1(vals, p), (g, p)
    assert len(got) == 2 * len(probs)


def test_exact_quantiles_global_nulls_and_guards(spark):
    import pytest

    from dump1090_db_stream_spark.operators.profiling import (
        exact_quantiles_by,
    )

    vals = [float(v) for v in (5, 1, 9, 3, 7)]
    df = spark.createDataFrame(
        [(v,) for v in vals] + [(None,), (float("nan"),)], "v double")
    got = {r["prob"]: r["q"]
           for r in exact_quantiles_by(df, "v",
                                       probs=[0.5, 1.0]).collect()}
    assert got[0.5] == 5.0 and got[1.0] == 9.0
    with pytest.raises(ValueError, match="probs"):
        exact_quantiles_by(df, "v", probs=[1.5])


def test_exact_quantiles_modes_bit_identical(spark, monkeypatch):
    from dump1090_db_stream_spark.operators import prefix_sum
    from dump1090_db_stream_spark.operators.profiling import (
        exact_quantiles_by,
    )

    rows = [(f"g{i % 3}", float((i * 31) % 997)) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v double")
    base = exact_quantiles_by(df, "v", keys=["g"]) \
        .orderBy("g", "prob").collect()
    assert exact_quantiles_by(df, "v", keys=["g"], n_range_buckets=1) \
        .orderBy("g", "prob").collect() == base
    # a one-group budget: bounds and offsets attach by equi-join
    monkeypatch.setattr(prefix_sum, "_OFFSET_ROW_BUDGET", 1)
    assert exact_quantiles_by(df, "v", keys=["g"]) \
        .orderBy("g", "prob").collect() == base
