"""operators.drift.ks_drift_by — exact two-sample KS vs a brute-force
pure-Python reference, edge contracts, and the prefix-sum equivalence.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.drift import ks_drift_by


def ref_ks(group_vals: list[float], rest_vals: list[float]) -> float:
    """Brute force: evaluate |F_g - F_rest| at BOTH one-sided limits of
    every point of either sample (the sup of a difference of step
    functions is attained at a jump of one of them)."""
    pts = sorted(set(group_vals) | set(rest_vals))
    ng, nr = len(group_vals), len(rest_vals)
    d = 0.0
    for x in pts:
        for cmp_ in ((lambda v: v <= x), (lambda v: v < x)):
            fg = sum(1 for v in group_vals if cmp_(v)) / ng
            fr = sum(1 for v in rest_vals if cmp_(v)) / nr
            d = max(d, abs(fg - fr))
    return d


def _fixture(spark):
    # deterministic interleaved values with ties within AND across
    # groups, three groups of different sizes
    rows = []
    for i in range(120):
        rows.append(("a", float((i * 7) % 40)))
    for i in range(80):
        rows.append(("b", float((i * 11) % 40 + 10)))
    for i in range(50):
        rows.append(("c", float((i * 13) % 25)))
    return spark.createDataFrame(rows, "g string, s double"), rows


def test_ks_matches_bruteforce_reference(spark):
    df, rows = _fixture(spark)
    got = {r["g"]: r for r in ks_drift_by(df, "s", "g").collect()}
    for g in ("a", "b", "c"):
        grp = [s for gg, s in rows if gg == g]
        rest = [s for gg, s in rows if gg != g]
        assert got[g]["n"] == len(grp)
        assert got[g]["n_rest"] == len(rest)
        assert got[g]["ks"] == round(ref_ks(grp, rest), 6), g
        crit = (math.sqrt(-math.log(0.025) / 2.0)
                * math.sqrt((len(grp) + len(rest))
                            / (len(grp) * len(rest))))
        assert got[g]["ks_crit_05"] == round(crit, 6)
        assert got[g]["drifted"] == (ref_ks(grp, rest) > crit)


def test_disjoint_supports_give_ks_one(spark):
    rows = [("lo", float(i)) for i in range(30)] + \
           [("hi", float(i + 1000)) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, s double")
    got = {r["g"]: r for r in ks_drift_by(df, "s", "g").collect()}
    assert got["lo"]["ks"] == 1.0 and got["lo"]["drifted"] is True
    assert got["hi"]["ks"] == 1.0


def test_single_group_emits_null_not_error(spark):
    df = spark.createDataFrame([("only", float(i)) for i in range(10)],
                               "g string, s double")
    [r] = ks_drift_by(df, "s", "g").collect()
    assert r["n_rest"] == 0
    assert r["ks"] is None
    assert r["ks_crit_05"] is None
    assert r["drifted"] is None


def test_null_nan_scores_and_null_groups_excluded(spark):
    df, rows = _fixture(spark)
    noisy = df.unionByName(spark.createDataFrame(
        [("a", None), ("b", float("nan")), (None, 3.0)],
        "g string, s double"))
    assert (ks_drift_by(noisy, "s", "g").orderBy("g").collect()
            == ks_drift_by(df, "s", "g").orderBy("g").collect())


def test_bucket_decomposition_is_exact(spark):
    """n_range_buckets only re-balances load: 1 (degenerate single
    bucket) and 7 (uneven) must be bit-identical to the default 64."""
    df, _ = _fixture(spark)
    base = ks_drift_by(df, "s", "g").orderBy("g").collect()
    for nb in (1, 7):
        assert ks_drift_by(df, "s", "g", n_range_buckets=nb) \
            .orderBy("g").collect() == base


def _equi_join_side(monkeypatch):
    """Shrink the grouped prefix-sum's broadcast budget to one group,
    so grouped calls attach bounds and offsets through equi-joins."""
    from dump1090_db_stream_spark.operators import prefix_sum

    monkeypatch.setattr(prefix_sum, "_OFFSET_ROW_BUDGET", 1)


def test_shuffle_bounds_join_is_bit_identical(spark, monkeypatch):
    df, _ = _fixture(spark)
    base = ks_drift_by(df, "s", "g").orderBy("g").collect()
    _equi_join_side(monkeypatch)
    assert ks_drift_by(df, "s", "g").orderBy("g").collect() == base


def test_integer_scores_cast_and_tie_credit(spark):
    """Heavy ties (integer scores, few distinct values) — the left/
    right limit evaluation must still match brute force exactly."""
    rows = ([("x", v) for v in [1, 1, 1, 2, 2, 3]]
            + [("y", v) for v in [1, 2, 2, 2, 3, 3]])
    df = spark.createDataFrame(rows, "g string, s int")
    got = {r["g"]: r for r in ks_drift_by(df, "s", "g").collect()}
    for g in ("x", "y"):
        grp = [float(s) for gg, s in rows if gg == g]
        rest = [float(s) for gg, s in rows if gg != g]
        assert got[g]["ks"] == round(ref_ks(grp, rest), 6), g


# --- ks_drift (reference vs current snapshot) -----------------------------


def _snapshots(spark):
    ref_rows = [("a", float((i * 7) % 40)) for i in range(100)] + \
               [("b", float((i * 11) % 60)) for i in range(70)]
    # "a" genuinely shifts (+8), "b" stays on the same lattice
    cur_rows = [("a", float((i * 7) % 40 + 8)) for i in range(90)] + \
               [("b", float((i * 13) % 60)) for i in range(80)]
    mk = lambda rows: spark.createDataFrame(rows, "k string, s double")  # noqa: E731
    return mk(ref_rows), ref_rows, mk(cur_rows), cur_rows


def test_ks_drift_matches_bruteforce_per_key(spark):
    from dump1090_db_stream_spark.operators.drift import ks_drift

    ref, ref_rows, cur, cur_rows = _snapshots(spark)
    got = {r["k"]: r for r in
           ks_drift(ref, cur, "s", keys=["k"]).collect()}
    for k in ("a", "b"):
        rv = [s for kk, s in ref_rows if kk == k]
        cv = [s for kk, s in cur_rows if kk == k]
        assert got[k]["n_ref"] == len(rv)
        assert got[k]["n_cur"] == len(cv)
        assert got[k]["ks"] == round(ref_ks(rv, cv), 6), k
        crit = (math.sqrt(-math.log(0.025) / 2.0)
                * math.sqrt((len(rv) + len(cv)) / (len(rv) * len(cv))))
        assert got[k]["drifted"] == (ref_ks(rv, cv) > crit)
    assert got["a"]["drifted"] is True     # the planted +8 shift


def test_ks_drift_global_row_without_keys(spark):
    from dump1090_db_stream_spark.operators.drift import ks_drift

    ref, ref_rows, cur, cur_rows = _snapshots(spark)
    [r] = ks_drift(ref, cur, "s").collect()
    assert r["n_ref"] == len(ref_rows) and r["n_cur"] == len(cur_rows)
    assert r["ks"] == round(ref_ks([s for _, s in ref_rows],
                                   [s for _, s in cur_rows]), 6)


def test_ks_drift_one_sided_slice_is_null(spark):
    from dump1090_db_stream_spark.operators.drift import ks_drift

    ref = spark.createDataFrame([("only_ref", 1.0), ("both", 2.0)],
                                "k string, s double")
    cur = spark.createDataFrame([("both", 3.0), ("only_cur", 4.0)],
                                "k string, s double")
    got = {r["k"]: r for r in
           ks_drift(ref, cur, "s", keys=["k"]).collect()}
    assert got["only_ref"]["ks"] is None
    assert got["only_cur"]["ks"] is None
    assert got["only_ref"]["drifted"] is None
    assert got["both"]["ks"] == 1.0        # disjoint single points


def test_ks_drift_decomposition_and_shuffle_mode_bit_identical(
        spark, monkeypatch):
    from dump1090_db_stream_spark.operators.drift import ks_drift

    ref, _, cur, _ = _snapshots(spark)
    base = ks_drift(ref, cur, "s", keys=["k"]).orderBy("k").collect()
    assert ks_drift(ref, cur, "s", keys=["k"], n_range_buckets=1) \
        .orderBy("k").collect() == base
    _equi_join_side(monkeypatch)
    assert ks_drift(ref, cur, "s", keys=["k"]) \
        .orderBy("k").collect() == base


# --- w1_drift (Wasserstein-1 / earth mover's) -----------------------------


def ref_w1(a: list[float], b: list[float]) -> float:
    """Step integral of |F_a - F_b| over the union points, with each
    per-interval contribution quantized to 1e-9 exactly as the
    operator's partition-order-independent fold does."""
    import math as _m

    pts = sorted(set(a) | set(b))
    total = 0
    for s, nxt in zip(pts, pts[1:]):
        fa = sum(1 for v in a if v <= s) / len(a)
        fb = sum(1 for v in b if v <= s) / len(b)
        total += _m.floor(abs(fa - fb) * (nxt - s) * 1e9 + 0.5)
    return total / 1e9


def test_w1_matches_bruteforce_and_shift_units(spark):
    from dump1090_db_stream_spark.operators.drift import w1_drift

    ref, ref_rows, cur, cur_rows = _snapshots(spark)
    got = {r["k"]: r for r in
           w1_drift(ref, cur, "s", keys=["k"]).collect()}
    for k in ("a", "b"):
        rv = [s for kk, s in ref_rows if kk == k]
        cv = [s for kk, s in cur_rows if kk == k]
        assert got[k]["n_ref"] == len(rv)
        assert got[k]["n_cur"] == len(cv)
        assert got[k]["w1"] == round(ref_w1(rv, cv), 6), k
    # a pure +delta location shift of the same lattice has W1 ~ delta
    base = [float(v) for v in range(100)]
    shifted = [v + 12.0 for v in base]
    df_r = spark.createDataFrame([("x", v) for v in base],
                                 "k string, s double")
    df_c = spark.createDataFrame([("x", v) for v in shifted],
                                 "k string, s double")
    [r] = w1_drift(df_r, df_c, "s", keys=["k"]).collect()
    assert r["w1"] == 12.0


def test_w1_global_one_sided_and_modes(spark, monkeypatch):
    from dump1090_db_stream_spark.operators.drift import w1_drift

    ref, ref_rows, cur, cur_rows = _snapshots(spark)
    [g] = w1_drift(ref, cur, "s").collect()
    assert g["w1"] == round(ref_w1([s for _, s in ref_rows],
                                   [s for _, s in cur_rows]), 6)
    # one-sided slice -> NULL
    only = w1_drift(
        spark.createDataFrame([("lone", 1.0)], "k string, s double"),
        spark.createDataFrame([("both", 2.0)], "k string, s double"),
        "s", keys=["k"]).collect()
    assert all(r["w1"] is None for r in only)
    # decomposition + the equi-join side bit-identical
    base = w1_drift(ref, cur, "s", keys=["k"]).orderBy("k").collect()
    assert w1_drift(ref, cur, "s", keys=["k"], n_range_buckets=1) \
        .orderBy("k").collect() == base
    _equi_join_side(monkeypatch)
    assert w1_drift(ref, cur, "s", keys=["k"]) \
        .orderBy("k").collect() == base


def _py_ranksum(ref_vals, cur_vals):
    """Pure-Python tie-corrected Mann-Whitney U + z (midranks)."""
    allv = sorted(ref_vals + cur_vals)
    n_ref, n_cur = len(ref_vals), len(cur_vals)
    n = n_ref + n_cur
    # midranks
    ranks, i = {}, 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j] == allv[i]:
            j += 1
        ranks[allv[i]] = (i + 1 + j) / 2.0
        i = j
    r_cur = sum(ranks[v] for v in cur_vals)
    u = r_cur - n_cur * (n_cur + 1) / 2.0
    mu = n_ref * n_cur / 2.0
    tie = sum((c := allv.count(v)) ** 3 - c for v in set(allv))
    var = (n_ref * n_cur / 12.0) * ((n + 1) - tie / (n * (n - 1)))
    z = (u - mu) / math.sqrt(var) if var > 0 else None
    return u, z


def test_ranksum_matches_python_reference(spark):
    from dump1090_db_stream_spark.operators.drift import ranksum_drift

    ref_vals = [1.0, 2.0, 2.0, 3.5, 9.0, 4.25, 2.0, 7.0]
    cur_vals = [2.0, 5.0, 5.0, 8.0, 9.0, 12.0, 3.5]
    want_u, want_z = _py_ranksum(ref_vals, cur_vals)
    ref = spark.createDataFrame([("a", v) for v in ref_vals],
                                ["k", "v"])
    cur = spark.createDataFrame([("a", v) for v in cur_vals],
                                ["k", "v"])
    [r] = ranksum_drift(ref, cur, "v", keys=["k"]).collect()
    assert r["n_ref"] == 8 and r["n_cur"] == 7
    assert r["u_cur"] == round(want_u, 6)
    assert r["z"] == round(want_z, 6)
    assert r["drifted"] == (abs(want_z) > 1.959964)
    # ungrouped single row matches too
    [g] = ranksum_drift(ref.select("v"), cur.select("v"), "v").collect()
    assert g["u_cur"] == r["u_cur"] and g["z"] == r["z"]


def test_ranksum_degenerate_slices(spark):
    from dump1090_db_stream_spark.operators.drift import ranksum_drift

    ref = spark.createDataFrame(
        [("only_ref", 1.0), ("tied", 5.0), ("tied", 5.0)], ["k", "v"])
    cur = spark.createDataFrame(
        [("tied", 5.0), ("only_cur", 2.0)], ["k", "v"])
    rows = {r["k"]: r for r in
            ranksum_drift(ref, cur, "v", keys=["k"]).collect()}
    assert rows["only_ref"]["u_cur"] is None
    assert rows["only_cur"]["z"] is None
    # all-tied slice: U is defined (pure midranks) but var=0 -> z NULL
    assert rows["tied"]["u_cur"] is not None
    assert rows["tied"]["z"] is None and rows["tied"]["drifted"] is None


def _py_chisq(ref_cats, cur_cats):
    cats = sorted(set(ref_cats) | set(cur_cats))
    n_ref, n_cur = len(ref_cats), len(cur_cats)
    n = n_ref + n_cur
    x2 = 0.0
    for c in cats:
        o_r, o_c = ref_cats.count(c), cur_cats.count(c)
        tot = o_r + o_c
        e_r, e_c = n_ref * tot / n, n_cur * tot / n
        x2 += (o_r - e_r) ** 2 / e_r + (o_c - e_c) ** 2 / e_c
    df = len(cats) - 1
    zwh = (((x2 / df) ** (1 / 3) - (1 - 2 / (9 * df)))
           / math.sqrt(2 / (9 * df)))
    return x2, df, zwh


def test_chisq_matches_python_reference(spark):
    from dump1090_db_stream_spark.operators.drift import chisq_drift

    ref_cats = list("aaabbbbcc")
    cur_cats = list("abbccccdd")
    want_x2, want_df, want_z = _py_chisq(ref_cats, cur_cats)
    ref = spark.createDataFrame([(c,) for c in ref_cats], ["c"])
    cur = spark.createDataFrame([(c,) for c in cur_cats], ["c"])
    [r] = chisq_drift(ref, cur, "c").collect()
    assert r["n_ref"] == 9 and r["n_cur"] == 9
    assert r["n_categories"] == 4 and r["df"] == 3
    assert abs(r["chisq"] - want_x2) < 2e-6   # 1e-9 quantization
    assert abs(r["z_wh"] - want_z) < 2e-6
    assert r["drifted"] == (want_z > 1.644854)


def test_chisq_grouped_and_degenerate(spark):
    from dump1090_db_stream_spark.operators.drift import chisq_drift

    ref = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("solo", "x"), ("one_sided", "y")],
        ["k", "c"])
    cur = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("solo", "x")], ["k", "c"])
    rows = {r["k"]: r for r in
            chisq_drift(ref, cur, "c", keys=["k"]).collect()}
    assert rows["g1"]["df"] == 1 and rows["g1"]["chisq"] is not None
    assert rows["solo"]["df"] == 0          # one category: no test
    assert rows["solo"]["z_wh"] is None
    assert rows["one_sided"]["chisq"] is None   # cur side empty


def _py_jsd(ref_cats, cur_cats):
    """Independent JSD reference replicating the engine's quantization
    disciplines (per-cell 1e-9 floor-quantized decimals, final 1e-6
    micro-quantization) so the comparison is bit-exact."""
    import math
    from collections import Counter

    cr, cc = Counter(ref_cats), Counter(cur_cats)
    nr, nc = len(ref_cats), len(cur_cats)
    qs = 0
    for c in set(cr) | set(cc):
        p, q = cr.get(c, 0) / nr, cc.get(c, 0) / nc
        m = (p + q) / 2.0
        tp = p * math.log2(p / m) if cr.get(c, 0) > 0 else 0.0
        tq = q * math.log2(q / m) if cc.get(c, 0) > 0 else 0.0
        qs += math.floor((0.5 * tp + 0.5 * tq) * 1e9 + 0.5)
    jsd = qs / 1e9
    return (math.floor(jsd * 1e6 + 0.5) / 1e6,
            math.floor(math.sqrt(max(jsd, 0.0)) * 1e6 + 0.5) / 1e6,
            jsd)


def test_jsd_matches_python_reference_bit_exact(spark):
    from dump1090_db_stream_spark.operators.drift import (
        js_divergence_drift,
    )

    ref_cats = list("aaabbbbcc")
    cur_cats = list("abbccccdd")
    want_jsd, want_dist, raw = _py_jsd(ref_cats, cur_cats)
    ref = spark.createDataFrame([(c,) for c in ref_cats], ["c"])
    cur = spark.createDataFrame([(c,) for c in cur_cats], ["c"])
    [r] = js_divergence_drift(ref, cur, "c").collect()
    assert r["n_ref"] == 9 and r["n_cur"] == 9 and r["n_categories"] == 4
    assert r["jsd"] == want_jsd           # bit-exact, not approx
    assert r["js_distance"] == want_dist
    assert r["drifted"] == (raw > 0.1)
    assert 0.0 <= r["jsd"] <= 1.0


def test_jsd_bounds_identity_and_disjoint(spark):
    from dump1090_db_stream_spark.operators.drift import (
        js_divergence_drift,
    )

    same = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 5, ["c"])
    [r] = js_divergence_drift(same, same, "c").collect()
    assert r["jsd"] == 0.0 and r["js_distance"] == 0.0
    assert r["drifted"] is False
    # disjoint supports: base-2 JSD is exactly 1 (each side's mass
    # sits where the other has none -> both KL terms are 1 bit)
    ref = spark.createDataFrame([("a",), ("b",)], ["c"])
    cur = spark.createDataFrame([("x",), ("y",), ("y",)], ["c"])
    [r] = js_divergence_drift(ref, cur, "c").collect()
    assert r["jsd"] == 1.0 and r["js_distance"] == 1.0
    assert r["drifted"] is True


def test_jsd_grouped_one_sided_and_shuffle_invariance(spark):
    from dump1090_db_stream_spark.operators.drift import (
        js_divergence_drift,
    )

    ref = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("one_sided", "y"), ("g1", None),
         (None, "a")], ["k", "c"])
    cur = spark.createDataFrame(
        [("g1", "a"), ("g1", "a")], ["k", "c"])
    rows = {r["k"]: r for r in
            js_divergence_drift(ref, cur, "c", keys=["k"]).collect()}
    assert set(rows) == {"g1", "one_sided"}   # NULL key excluded
    assert rows["g1"]["n_ref"] == 2           # NULL category excluded
    assert rows["g1"]["jsd"] is not None
    assert rows["one_sided"]["jsd"] is None   # empty cur side
    assert rows["one_sided"]["drifted"] is None
    # partition-layout invariance: the quantized-decimal fold makes
    # the result independent of input partitioning
    got = {(r["k"], r["jsd"]) for r in
           js_divergence_drift(ref, cur, "c", keys=["k"]).collect()}
    got1 = {(r["k"], r["jsd"]) for r in
            js_divergence_drift(ref.repartition(1), cur.coalesce(1),
                                "c", keys=["k"]).collect()}
    assert got == got1


def _py_page_hinkley(pairs, bucket_seconds=3600, delta=0.0, lam=5.0):
    """Independent Page-Hinkley reference replicating the engine's
    quantization disciplines exactly (per-bucket 1e-9 decimal means,
    exact integer running sums/min, the single scaled comparison
    grain), so comparisons are bit-exact. ``pairs``: (epoch_sec, x)."""
    import math
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for e, x in pairs:
        b = e // bucket_seconds
        agg[b][0] += math.floor(x * 1e9 + 0.5)
        agg[b][1] += 1
    sx = m = 0
    mmin = None
    ph_max = 0
    alarm = None
    for t, b in enumerate(sorted(agg), start=1):
        qsum, cnt = agg[b]
        x = qsum / 1e9 / cnt
        sx += math.floor(x * 1e9 + 0.5)
        mean = sx / 1e9 / t
        m += math.floor((x - mean - delta) * 1e9 + 0.5)
        mmin = m if mmin is None else min(mmin, m)
        exc = m - mmin
        ph_max = max(ph_max, exc)
        if alarm is None and float(exc) > lam * 1e9:
            alarm = b
    ph = math.floor(float(ph_max) / 1e9 * 1e6 + 0.5) / 1e6
    return len(agg), ph, alarm


def test_page_hinkley_matches_python_reference_bit_exact(spark):
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.drift import (
        page_hinkley_drift,
    )

    def series(key, shift_at, shift):
        # deterministic pseudo-noise around 10.0, +shift after the
        # changepoint; 3 readings per hourly bucket over 48 buckets
        out = []
        for i in range(144):
            e = 1700000000 + i * 1200
            x = 10.0 + ((i * 37) % 11 - 5) * 0.05 \
                + (shift if i >= shift_at else 0.0)
            out.append((key, e, x))
        return out

    rows = series("stable", 999, 0.0) + series("shifted", 72, 3.0)
    df = spark.createDataFrame(rows, ["k", "e", "x"]).select(
        "k", F.col("e").cast("timestamp").alias("ts"), "x")
    got = {r["k"]: r for r in page_hinkley_drift(
        df, "x", keys=["k"], delta=0.05, lam=5.0).collect()}
    for key, shift_at, shift in [("stable", 999, 0.0),
                                 ("shifted", 72, 3.0)]:
        nb, ph, alarm = _py_page_hinkley(
            [(e, x) for k, e, x in rows if k == key],
            delta=0.05, lam=5.0)
        r = got[key]
        assert r["n_buckets"] == nb == 48
        assert r["ph_stat"] == ph          # bit-exact
        assert r["alarm_bucket"] == alarm
        assert r["drifted"] is (alarm is not None)
    assert got["stable"]["drifted"] is False
    assert got["shifted"]["drifted"] is True
    # the alarm fires at/after the planted changepoint's bucket
    assert got["shifted"]["alarm_bucket"] >= (1700000000
                                              + 72 * 1200) // 3600


def test_page_hinkley_exclusions_and_validation(spark):
    import math

    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.drift import (
        page_hinkley_drift,
    )

    df = spark.createDataFrame(
        [("a", 1700000000, 1.0), ("a", 1700000100, float("nan")),
         ("a", None, 9.0), ("a", 1700003600, None),
         (None, 1700000200, 2.0), ("a", 1700000300, 3.0)],
        ["k", "e", "x"]).select(
        "k", F.col("e").cast("timestamp").alias("ts"),
        F.col("x").cast("double").alias("x"))
    [r] = page_hinkley_drift(df, "x", keys=["k"]).collect()
    assert r["k"] == "a" and r["n_buckets"] == 1   # one surviving bucket
    assert r["ph_stat"] == 0.0 and r["drifted"] is False
    assert math.isfinite(r["ph_stat"])
    import pytest as _pytest
    with _pytest.raises(ValueError):
        page_hinkley_drift(df, "x", bucket_seconds=0)
