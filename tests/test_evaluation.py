"""Model-eval analytics (operators.evaluation): exact tie-aware AUC,
reliability bins, ECE — checked against closed-form hand computations."""

from __future__ import annotations

import pytest


def test_auc_exact_values_and_ties(spark):
    from dump1090_db_stream_spark.operators.evaluation import auc_score

    # perfect separation -> 1.0; reversed -> 0.0; random-ish -> 0.5
    perfect = spark.createDataFrame(
        [(0.9, True), (0.8, True), (0.2, False), (0.1, False)],
        ["s", "y"])
    assert auc_score(perfect, "s", "y").collect()[0]["auc"] == 1.0
    rev = spark.createDataFrame(
        [(0.1, True), (0.2, False)], ["s", "y"])
    assert auc_score(rev, "s", "y").collect()[0]["auc"] == 0.0
    # tie handling: a tied pos/neg pair contributes exactly 1/2
    tied = spark.createDataFrame(
        [(0.5, True), (0.5, False)], ["s", "y"])
    assert auc_score(tied, "s", "y").collect()[0]["auc"] == 0.5
    # hand-computed mixed case: scores .1-,.2+,.3-,.3+,.4+
    # ranks 1..5, tie group {.3} -> avg rank 3.5
    # pos ranks: 2, 3.5, 5 -> sum 10.5; AUC=(10.5-3*4/2)/(3*2)=0.75
    mixed = spark.createDataFrame(
        [(0.1, False), (0.2, True), (0.3, False), (0.3, True),
         (0.4, True)], ["s", "y"])
    r = auc_score(mixed, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (3, 2, 0.75)
    # NULLs carry no information
    nulls = spark.createDataFrame(
        [(None, True), (0.9, None), (0.9, True), (0.1, False)],
        "s double, y boolean")
    assert auc_score(nulls, "s", "y").collect()[0]["auc"] == 1.0


def test_calibration_bins_and_ece(spark):
    from dump1090_db_stream_spark.operators.evaluation import (
        calibration_bins,
    )

    # bin 9 (scores .9x): 4 rows, conf .925, acc .75
    # bin 0 (scores .0x): 4 rows, conf .05, acc 0.25
    rows = [(0.9, True), (0.9, True), (0.95, True), (0.95, False),
            (0.05, False), (0.05, False), (0.05, False), (0.05, True),
            (1.0, True)]  # exactly 1.0 -> top bin, not bin 10
    df = spark.createDataFrame(rows, ["s", "y"])
    bins = {r["bin"]: r for r in calibration_bins(df, "s", "y").collect()}
    assert set(bins) == {0, 9}
    assert bins[9]["n"] == 5 and bins[0]["n"] == 4
    assert bins[0]["confidence"] == 0.05 and bins[0]["accuracy"] == 0.25
    assert bins[9]["accuracy"] == 0.8
    assert bins[9]["confidence"] == round((0.9 * 2 + 0.95 * 2 + 1.0) / 5, 6)
    with pytest.raises(ValueError, match="n_bins"):
        calibration_bins(df, "s", "y", n_bins=0)


def test_auc_single_class_is_null_not_silent(spark):
    """AUC is undefined when only one class is present: the row must
    carry an explicit NULL (try_divide), never a crash — and the
    counts still say WHICH class is missing (r6 ADVICE)."""
    from dump1090_db_stream_spark.operators.evaluation import auc_score

    pos_only = spark.createDataFrame(
        [(0.9, True), (0.1, True)], ["s", "y"])
    r = auc_score(pos_only, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (2, 0, None)
    neg_only = spark.createDataFrame(
        [(0.9, False), (0.1, False)], ["s", "y"])
    r = auc_score(neg_only, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (0, 2, None)


def test_auc_plan_aggregates_before_global_sort(spark):
    """The r7 scale fix: the ordering window must run over the
    distinct-score relation (post-groupBy), never input-grain rows —
    pinned by the same detector the registry-wide gate uses."""
    from test_plans import plan_of, single_partition_window_sites

    from dump1090_db_stream_spark.operators.evaluation import auc_score

    df = spark.createDataFrame(
        [(float(i % 7) / 7, i % 3 == 0) for i in range(100)], ["s", "y"])
    assert single_partition_window_sites(plan_of(auc_score(df, "s", "y"))) == []


def _sklearn_free_auc(pairs):
    """Exact reference AUC via the rank-sum identity, in plain Python."""
    from collections import Counter

    per = Counter()
    pos = Counter()
    for s, y in pairs:
        per[s] += 1
        pos[s] += 1 if y else 0
    prev, rsum, n_pos, n = 0, 0.0, 0, 0
    for s in sorted(per):
        ravg = prev + (per[s] + 1) / 2
        rsum += pos[s] * ravg
        prev += per[s]
        n_pos += pos[s]
        n += per[s]
    n_neg = n - n_pos
    return round((rsum - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg), 6)


def test_auc_continuous_scores_distributed_prefix_sum(spark):
    """The r8 fix for the r7 residual: a CONTINUOUS score
    (|distinct| == n) must produce the exact AUC through the
    quantile-bucketed prefix-sum, with NO input-grain single-partition
    sort in the plan — including scores landing exactly ON bucket
    boundaries, and at n_range_buckets=1 (degenerate single bucket)."""
    import random

    from test_plans import plan_of, single_partition_window_sites

    from dump1090_db_stream_spark.operators.evaluation import auc_score

    rng = random.Random(42)
    pairs = [(rng.random(), rng.random() < 0.4) for _ in range(5000)]
    want = _sklearn_free_auc(pairs)
    df = spark.createDataFrame(pairs, ["s", "y"])
    for buckets in (1, 7, 64):
        q = auc_score(df, "s", "y", n_range_buckets=buckets)
        assert single_partition_window_sites(plan_of(q)) == []
        r = q.collect()[0]
        assert (r["n_pos"] + r["n_neg"], r["auc"]) == (5000, want), buckets
    with pytest.raises(ValueError, match="n_range_buckets"):
        auc_score(df, "s", "y", n_range_buckets=0)


def test_auc_score_by_groups(spark):
    """Per-group AUC: each group's value equals the global auc_score
    of that slice; single-class groups carry NULL; NULL groups drop."""
    import random

    from dump1090_db_stream_spark.operators.evaluation import (
        auc_score,
        auc_score_by,
    )

    rng = random.Random(3)
    rows = []
    for g, sep in (("en", 0.8), ("de", 0.2), ("fr", 0.5)):
        for _ in range(200):
            y = rng.random() < 0.5
            s = rng.random() * (1 - sep) + (sep if y else 0.0) \
                * rng.random()
            rows.append((g, s, y))
    rows.append(("one_class", 0.9, True))
    rows.append((None, 0.5, True))
    df = spark.createDataFrame(rows, ["lang", "s", "y"])
    got = {r["lang"]: r for r in
           auc_score_by(df, "s", "y", "lang").collect()}
    assert set(got) == {"en", "de", "fr", "one_class"}
    assert got["one_class"]["auc"] is None
    for g in ("en", "de", "fr"):
        solo = auc_score(df.filter(df.lang == g), "s", "y").collect()[0]
        assert got[g]["auc"] == solo["auc"]
        assert (got[g]["n_pos"], got[g]["n_neg"]) == \
            (solo["n_pos"], solo["n_neg"])


def test_auc_score_by_dominant_group_grouped_prefix_sum(spark):
    """The r9 fix for the r8 residual: one group holding ~80% of the
    corpus with CONTINUOUS scores must produce exact per-group AUCs
    through the GROUPED prefix-sum — no per-group input-grain ordered
    window over the dominant group (pinned by the grouped plan gate),
    exact at buckets 1/7/64 including the degenerate single bucket."""
    import random

    from test_plans import plan_of, single_partition_window_sites

    from dump1090_db_stream_spark.operators.evaluation import auc_score_by
    from plan_audit import (
        grouped_continuous_window_funnels,
    )

    rng = random.Random(9)
    rows = [("big", rng.random(), rng.random() < 0.4)
            for _ in range(4000)]
    rows += [("small", rng.random(), rng.random() < 0.6)
             for _ in range(500)]
    rows += [("tiny", rng.random(), rng.random() < 0.5)
             for _ in range(500)]
    want = {g: _sklearn_free_auc([(s, y) for gg, s, y in rows
                                  if gg == g])
            for g in ("big", "small", "tiny")}
    df = spark.createDataFrame(rows, ["src", "s", "y"])
    for buckets in (1, 7, 64):
        q = auc_score_by(df, "s", "y", "src", n_range_buckets=buckets)
        assert single_partition_window_sites(plan_of(q)) == [], buckets
        assert grouped_continuous_window_funnels(q) == [], buckets
        got = {r["src"]: r for r in q.collect()}
        for g, auc in want.items():
            assert got[g]["auc"] == auc, (g, buckets)
        assert got["big"]["n_pos"] + got["big"]["n_neg"] == 4000


def test_ranking_metrics_hand_computed(spark):
    """nDCG/MRR/hit@k against closed-form hand computations: a
    perfectly-ranked query, an inverted one, a no-relevant one (NULL
    ndcg, 0 mrr), and graded relevance with a tie broken by doc id."""
    import math

    from dump1090_db_stream_spark.operators.evaluation import (
        ranking_metrics,
    )

    rows = [
        # q1: perfect ranking, binary relevance -> ndcg 1, mrr 1
        ("q1", "a", 0.9, 1), ("q1", "b", 0.8, 1), ("q1", "c", 0.7, 0),
        # q2: single relevant at rank 3 of 3
        ("q2", "a", 0.9, 0), ("q2", "b", 0.8, 0), ("q2", "c", 0.7, 1),
        # q3: nothing relevant -> ndcg NULL, mrr 0, hit 0
        ("q3", "a", 0.9, 0), ("q3", "b", 0.8, 0),
        # q4: graded rels 2,1 ranked worst-first
        ("q4", "a", 0.9, 1), ("q4", "b", 0.8, 2),
    ]
    got = {r["q"]: r for r in ranking_metrics(
        spark.createDataFrame(rows, ["q", "d", "s", "rel"]),
        "q", "d", "s", "rel", k=10).collect()}
    assert got["q1"]["ndcg"] == 1.0 and got["q1"]["mrr"] == 1.0 \
        and got["q1"]["hit"] == 1
    # q2: dcg = 1/log2(4); idcg = 1/log2(2) = 1
    assert got["q2"]["ndcg"] == round(1 / math.log2(4), 6)
    assert got["q2"]["mrr"] == round(1 / 3, 6) and got["q2"]["hit"] == 1
    assert got["q3"]["ndcg"] is None and got["q3"]["mrr"] == 0.0 \
        and got["q3"]["hit"] == 0
    # q4: dcg = 1/1 + 3/log2(3); idcg = 3/1 + 1/log2(3)
    dcg = 1.0 + 3.0 / math.log2(3)
    idcg = 3.0 + 1.0 / math.log2(3)
    assert got["q4"]["ndcg"] == round(dcg / idcg, 6)
    assert got["q4"]["mrr"] == 1.0


def test_ranking_metrics_k_cutoff_and_nulls(spark):
    """k cuts BOTH lists (a relevant doc below rank k contributes to
    neither DCG nor MRR), NULL rows are excluded, k validates, and
    the rank windows stay partitioned (no global funnel)."""
    import pytest as _pytest

    from test_plans import plan_of, single_partition_window_sites

    from dump1090_db_stream_spark.operators.evaluation import (
        ranking_metrics,
    )

    rows = [("q", chr(97 + i), 1.0 - i / 10.0, 0) for i in range(5)]
    rows.append(("q", "z", 0.1, 1))        # relevant, ranked 6th
    rows.append((None, "x", 0.5, 1))
    rows.append(("q", None, 0.5, 1))
    df = spark.createDataFrame(rows, "q string, d string, s double, rel int")
    q = ranking_metrics(df, "q", "d", "s", "rel", k=5)
    assert single_partition_window_sites(plan_of(q)) == []
    r = q.collect()
    assert len(r) == 1
    assert r[0]["mrr"] == 0.0 and r[0]["hit"] == 0
    # ideal list HAS a relevant doc in its top-5 -> idcg > 0, dcg 0
    assert r[0]["ndcg"] == 0.0
    with _pytest.raises(ValueError, match="k must be"):
        ranking_metrics(df, "q", "d", "s", "rel", k=0)


# --- group_correlation (decimal-exact Pearson + OLS) ----------------------


def _pearson_ref(pairs):
    import math as _m
    n = len(pairs)
    sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx; vy = n * syy - sy * sy
    r = cov / _m.sqrt(vx * vy) if vx and vy else None
    slope = cov / vx if vx else None
    b = (sy - slope * sx) / n if slope is not None else None
    return r, slope, b


def test_group_correlation_matches_closed_form(spark):
    from dump1090_db_stream_spark.operators.evaluation import (
        group_correlation,
    )

    pairs_a = [(i, 3 * i + 7 + (i % 5)) for i in range(1, 41)]
    pairs_b = [(i, 100 - 2 * i + (i % 3)) for i in range(1, 31)]
    rows = [("a", x, y) for x, y in pairs_a] + \
           [("b", x, y) for x, y in pairs_b]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r["g"]: r for r in
           group_correlation(df, "x", "y", keys=["g"]).collect()}
    for g, pairs in (("a", pairs_a), ("b", pairs_b)):
        r, slope, b = _pearson_ref(pairs)
        assert got[g]["n"] == len(pairs)
        assert got[g]["r"] == pytest.approx(r, abs=1e-6)
        assert got[g]["slope"] == pytest.approx(slope, abs=1e-6)
        assert got[g]["intercept"] == pytest.approx(b, abs=1e-6)
    assert got["a"]["r"] > 0.99 and got["b"]["r"] < -0.99


def test_group_correlation_global_and_null_exclusion(spark):
    from dump1090_db_stream_spark.operators.evaluation import (
        group_correlation,
    )

    rows = [(x, 2 * x) for x in range(1, 21)]
    df = spark.createDataFrame(rows + [(None, 5), (5, None)],
                               "x long, y long")
    [r] = group_correlation(df, "x", "y").collect()
    assert r["n"] == 20
    assert r["r"] == 1.0 and r["slope"] == 2.0 and r["intercept"] == 0.0


def test_group_correlation_zero_variance_is_null(spark):
    from dump1090_db_stream_spark.operators.evaluation import (
        group_correlation,
    )

    df = spark.createDataFrame([(7, y) for y in range(10)],
                               "x long, y long")
    [r] = group_correlation(df, "x", "y").collect()
    assert r["r"] is None and r["slope"] is None
    assert r["intercept"] is None
