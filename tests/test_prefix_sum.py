"""Direct contracts of operators.prefix_sum.distributed_prev_counts_multi:
exactness against plain global windows, the r10 grouped-vocabulary
runtime guard and the NaN exclusion the
prefix-sum's monotone bucketing requires of its callers (r9 ADVICE:
``NaN >= bound`` is false so NaN rows land in bucket 0, but the
within-bucket window sorts NaN LAST — their _prev would count only
bucket-0 rows)."""

from __future__ import annotations

import math

import pytest


def _prev_counts(spark, rows, **kw):
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    rel = spark.createDataFrame(rows, ["g", "v", "c"])
    return distributed_prev_counts_multi(rel, "v", ("c",),
                                         partition_cols=("g",), **kw)


def test_vocabulary_guard_raises_on_unbounded_group_key(spark):
    """A high-cardinality partition key must fail fast with routing
    advice, not build a plan that broadcasts an unbounded bounds
    relation (one ~64-double row per group) at scale."""
    rows = [(f"domain_{i}", float(i % 97), 1) for i in range(300)]
    with pytest.raises(ValueError) as ei:
        _prev_counts(spark, rows, max_partition_groups=256).collect()
    msg = str(ei.value)
    assert "vocabulary guard" in msg
    assert "300" in msg and "256" in msg
    assert "BROADCAST" in msg


def test_vocabulary_guard_accounts_for_offsets_broadcast(spark):
    """r10 ADVICE: the grouped OFFSETS broadcast is groups x
    n_range_buckets rows — several times the bounds relation — so the
    effective ceiling is min(max_partition_groups,
    2**20 // n_range_buckets): a generous max_partition_groups does
    NOT let a huge bucket count push the offsets broadcast past the
    row budget."""
    rows = [(f"domain_{i}", float(i % 97), 1) for i in range(300)]
    # 2**20 // 4096 = 256 < 300 groups -> raises even though
    # max_partition_groups (default 65,536) allows 300
    with pytest.raises(ValueError) as ei:
        _prev_counts(spark, rows, n_range_buckets=4096).collect()
    msg = str(ei.value)
    assert "vocabulary guard" in msg
    assert "300" in msg and "256" in msg and "4096" in msg
    # same data under the default 64 buckets (ceiling 16,384) is fine
    assert _prev_counts(spark, rows).count() == 300


def test_vocabulary_guard_none_skips_probe(spark):
    """max_partition_groups=None is the caller's I-know-my-vocabulary
    opt-out: same 300-group input builds and computes fine."""
    rows = [(f"domain_{i}", float(i % 97), 1) for i in range(300)]
    out = _prev_counts(spark, rows, max_partition_groups=None)
    assert out.count() == 300


def test_shuffle_bounds_join_matches_broadcast_exactly(spark):
    """bounds_join='shuffle' — the unbounded-vocabulary scale path the
    guard routes to — is bit-identical to the broadcast default (the
    decomposition does not depend on the join strategy), skips the
    guard probe entirely, and its plan carries no broadcast HINT on
    the grouped bounds or offsets (AQE may still choose a broadcast
    join at runtime when a side turns out tiny — that is the point of
    leaving the strategy to Catalyst)."""
    import random

    rng = random.Random(10)
    rows = [(f"g{i % 7}", rng.random(), 1 + i % 3) for i in range(500)]
    want = {(r["g"], r["v"]): (r["_prevc"], r["_totalc"])
            for r in _prev_counts(spark, rows,
                                  with_totals=True).collect()}
    shuffled = _prev_counts(spark, rows, with_totals=True,
                            bounds_join="shuffle",
                            max_partition_groups=1)  # probe skipped
    got = {(r["g"], r["v"]): (r["_prevc"], r["_totalc"])
           for r in shuffled.collect()}
    assert got == want
    optimized = shuffled._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized
    # the broadcast default DOES hint both grouped attaches
    pinned = _prev_counts(spark, rows, with_totals=True,
                          max_partition_groups=None)
    assert "strategy=broadcast" in \
        pinned._jdf.queryExecution().optimizedPlan().toString()


def test_shuffle_bounds_join_handles_unbounded_group_key(spark):
    """A group cardinality far above any broadcast guard computes the
    exact per-group exclusive prefix sums through plain equi-joins."""
    rows = [(f"domain_{i}", float(v), 1)
            for i in range(2_000) for v in (1, 2)]
    got = _prev_counts(spark, rows, bounds_join="shuffle")
    assert got.count() == 4_000
    sample = {(r["g"], r["v"]): r["_prevc"] for r in
              got.filter(got.g == "domain_7").collect()}
    assert sample == {("domain_7", 1.0): 0, ("domain_7", 2.0): 1}


def test_bounds_join_invalid_value_raises(spark):
    rows = [("en", 1.0, 1)]
    with pytest.raises(ValueError, match="bounds_join"):
        _prev_counts(spark, rows, bounds_join="hash")


def test_vocabulary_guard_passes_bounded_vocabulary(spark):
    """Under the limit the guard is invisible — values match the
    closed-form exclusive prefix sum per group."""
    rows = [("en", 1.0, 2), ("en", 2.0, 3), ("en", 3.0, 5),
            ("de", 1.5, 7), ("de", 2.5, 11)]
    got = {(r["g"], r["v"]): r["_prevc"]
           for r in _prev_counts(spark, rows,
                                 max_partition_groups=16).collect()}
    assert got == {("en", 1.0): 0, ("en", 2.0): 2, ("en", 3.0): 5,
                   ("de", 1.5): 0, ("de", 2.5): 7}


def test_auc_score_excludes_nan_scores(spark):
    """AUC with NaN-scored rows == AUC of the clean slice (NaN carries
    no ranking information and would skew bucket-0 _prev counts)."""
    from dump1090_db_stream_spark.operators.evaluation import auc_score

    clean = [(0.1, False), (0.2, True), (0.3, False), (0.3, True),
             (0.4, True)]
    dirty = clean + [(math.nan, True), (math.nan, False)]
    want = auc_score(spark.createDataFrame(clean, ["s", "y"]),
                     "s", "y").collect()[0]
    got = auc_score(spark.createDataFrame(dirty, ["s", "y"]),
                    "s", "y").collect()[0]
    assert (got["n_pos"], got["n_neg"], got["auc"]) == \
        (want["n_pos"], want["n_neg"], want["auc"]) == (3, 2, 0.75)


def test_auc_score_by_excludes_nan_scores(spark):
    from dump1090_db_stream_spark.operators.evaluation import (
        auc_score_by,
    )

    rows = [("en", 0.1, False), ("en", 0.9, True),
            ("en", math.nan, False),
            ("de", 0.5, True), ("de", 0.5, False),
            ("de", math.nan, True)]
    got = {r["g"]: r for r in
           auc_score_by(spark.createDataFrame(rows, ["g", "s", "y"]),
                        "s", "y", "g").collect()}
    assert (got["en"]["n_pos"], got["en"]["n_neg"],
            got["en"]["auc"]) == (1, 1, 1.0)
    assert (got["de"]["n_pos"], got["de"]["n_neg"],
            got["de"]["auc"]) == (1, 1, 0.5)


def test_quantile_normalize_excludes_nan_values(spark):
    """NaN values have no quantile: they neither receive a norm_value
    row nor perturb other rows' ranks."""
    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    clean = [(f"d{i}", "a" if i % 2 else "b", float(i))
             for i in range(10)]
    dirty = clean + [("dn1", "a", math.nan), ("dn2", "b", math.nan)]
    want = {r["doc_id"]: r["norm_value"] for r in quantile_normalize(
        spark.createDataFrame(clean, ["doc_id", "grp", "v"]),
        "v", "grp").collect()}
    got = {r["doc_id"]: r["norm_value"] for r in quantile_normalize(
        spark.createDataFrame(dirty, ["doc_id", "grp", "v"]),
        "v", "grp").collect()}
    assert got == want
    assert "dn1" not in got and "dn2" not in got


def test_multi_matches_plain_windows(spark):
    """distributed_prev_counts_multi — ONE bucketed pass carrying
    several count columns plus the ordered neighbor — equals the plain
    global-Window reference: exclusive running sums
    (``rowsBetween(unboundedPreceding, -1)``), group totals and
    ``lead`` per group. Covers grouped + ungrouped, ties (zero-filled
    second count), degenerate n_range_buckets=1, and shuffle mode."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    rng = random.Random(15)
    rows = [(f"g{i % 5}", float(rng.randrange(40)),
             1 + i % 3, (i % 4 == 0) * (1 + i % 2))
            for i in range(400)]
    rel = (spark.createDataFrame(rows, ["g", "s", "ca", "cb"])
           .groupBy("g", "s")
           .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb")))

    def _plain(pcols):
        w = Window.partitionBy(*pcols).orderBy("s")
        prev = w.rowsBetween(Window.unboundedPreceding, -1)
        tot = Window.partitionBy(*pcols)
        out = rel if pcols else rel.groupBy("s").agg(
            F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        return {tuple(r[p] for p in pcols) + (r["s"],):
                list(r[len(pcols) + 1:])
                for r in out.select(
                    *pcols, "s",
                    *[c for col in ("ca", "cb") for c in (
                        F.coalesce(F.sum(col).over(prev), F.lit(0)),
                        F.sum(col).over(tot))],
                    F.lead("s").over(w)).collect()}

    def _multi(pcols, nb, bj):
        src = rel if pcols else rel.groupBy("s").agg(
            F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        out = distributed_prev_counts_multi(
            src, "s", ("ca", "cb"), n_range_buckets=nb,
            partition_cols=pcols, with_totals=True, with_next=True,
            bounds_join=bj)
        return {tuple(r[p] for p in pcols) + (r["s"],):
                [r["_prevca"], r["_totalca"],
                 r["_prevcb"], r["_totalcb"], r["_next"]]
                for r in out.collect()}

    for pcols, nb, bj in ((("g",), 64, "broadcast"),
                          (("g",), 7, "broadcast"),
                          (("g",), 1, "broadcast"),
                          (("g",), 7, "shuffle"),
                          ((), 64, "broadcast"),
                          ((), 1, "broadcast")):
        assert _multi(pcols, nb, bj) == _plain(pcols), (pcols, nb, bj)


def test_distributed_next_matches_plain_lead(spark):
    """``with_next`` adds ``_next``, the next distinct ``order_col``
    value in the group, equal to a plain global-Window ``lead`` at any
    bucket count, ungrouped, and in shuffle mode."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    def _next(rel, **kw):
        return distributed_prev_counts_multi(rel, "s", ("c",),
                                             with_next=True, **kw)

    rows = [("g1", float((i * 17) % 101)) for i in range(101)] + \
           [("g2", float((i * 13) % 53)) for i in range(53)]
    rel = (spark.createDataFrame(rows, "g string, s double").distinct()
           .withColumn("c", F.lit(1)))
    expected = {(r["g"], r["s"]): r["_lead"] for r in
                rel.withColumn(
                    "_lead",
                    F.lead("s").over(
                        Window.partitionBy("g").orderBy("s")))
                .collect()}
    for nb in (1, 7, 64):
        got = {(r["g"], r["s"]): r["_next"] for r in
               _next(rel, partition_cols=("g",),
                     n_range_buckets=nb).collect()}
        assert got == expected, nb
    # ungrouped + shuffle mode
    rel1 = rel.filter(F.col("g") == "g1").select("s", "c")
    exp1 = {r["s"]: r["_lead"] for r in
            rel1.withColumn("_lead",
                            F.lead("s").over(Window.orderBy("s")))
            .collect()}
    got1 = {r["s"]: r["_next"] for r in _next(rel1).collect()}
    assert got1 == exp1
    gots = {(r["g"], r["s"]): r["_next"] for r in
            _next(rel, partition_cols=("g",),
                  bounds_join="shuffle").collect()}
    assert gots == expected


def test_multi_matches_single_passes(spark):
    """ONE bucketed pass carrying several count columns plus the
    ordered neighbor equals the composition of one-column passes (and a
    separate neighbor pass) re-joined on (group, order): same
    bucketing, same integer window sums, only the number of columns
    riding each stage differs. Covers grouped + ungrouped, ties
    (zero-filled second count), degenerate n_range_buckets=1, and
    shuffle mode."""
    import random

    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    rng = random.Random(15)
    rows = [(f"g{i % 5}", float(rng.randrange(40)),
             1 + i % 3, (i % 4 == 0) * (1 + i % 2))
            for i in range(400)]
    rel = (spark.createDataFrame(rows, ["g", "s", "ca", "cb"])
           .groupBy("g", "s")
           .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb")))

    def _pass(pcols, nb, bj, cols, with_next=False):
        return distributed_prev_counts_multi(
            rel, "s", cols, n_range_buckets=nb, partition_cols=pcols,
            with_totals=True, with_next=with_next,
            bounds_join=bj).collect()

    def _single(pcols, nb, bj):
        keyed = {}
        for r in _pass(pcols, nb, bj, ("ca",)):
            k = tuple(r[p] for p in pcols) + (r["s"],)
            keyed[k] = [r["_prevca"], r["_totalca"], None, None, None]
        for r in _pass(pcols, nb, bj, ("cb",)):
            k = tuple(r[p] for p in pcols) + (r["s"],)
            keyed[k][2:4] = [r["_prevcb"], r["_totalcb"]]
        for r in _pass(pcols, nb, bj, ("ca",), with_next=True):
            k = tuple(r[p] for p in pcols) + (r["s"],)
            keyed[k][4] = r["_next"]
        return keyed

    def _multi(pcols, nb, bj):
        return {tuple(r[p] for p in pcols) + (r["s"],):
                [r["_prevca"], r["_totalca"],
                 r["_prevcb"], r["_totalcb"], r["_next"]]
                for r in _pass(pcols, nb, bj, ("ca", "cb"),
                               with_next=True)}

    for pcols, nb, bj in ((("g",), 64, "broadcast"),
                          (("g",), 1, "broadcast"),
                          (("g",), 7, "shuffle"),
                          ((), 64, "broadcast"),
                          ((), 1, "broadcast")):
        assert _multi(pcols, nb, bj) == _single(pcols, nb, bj), \
            (pcols, nb, bj)


def test_multi_vocabulary_guard_and_validation(spark):
    """The pass guards its grouped broadcasts (including the
    degenerate one-bucket branch with no totals), and validates its
    arguments."""
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    rows = [(f"domain_{i}", float(i % 97), 1, 1) for i in range(300)]
    rel = spark.createDataFrame(rows, ["g", "s", "ca", "cb"])
    for nb, tot in ((64, True), (1, False)):
        with pytest.raises(ValueError, match="vocabulary guard"):
            distributed_prev_counts_multi(
                rel, "s", ("ca", "cb"), n_range_buckets=nb,
                partition_cols=("g",), with_totals=tot,
                max_partition_groups=256).collect()
    with pytest.raises(ValueError, match="bounds_join"):
        distributed_prev_counts_multi(rel, "s", ("ca",),
                                      bounds_join="hash")
    with pytest.raises(ValueError, match="cnt_cols"):
        distributed_prev_counts_multi(rel, "s", ())
    with pytest.raises(ValueError, match="n_range_buckets"):
        distributed_prev_counts_multi(rel, "s", ("ca",),
                                      n_range_buckets=0)


def test_distributed_next_vocabulary_guard(spark):
    """With ``with_next`` the grouped broadcast mode broadcasts the
    per-group bounds row AND the groups x buckets nxt_bucket stitch
    relation, so the neighbor pass is guarded too — including in the
    degenerate n_range_buckets=1 branch where no bounds join exists
    but nxt_bucket still broadcasts. shuffle mode and
    max_partition_groups=None skip the probe."""
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    def _next(rel, **kw):
        return distributed_prev_counts_multi(rel, "s", ("c",),
                                             with_next=True, **kw)

    rows = [(f"domain_{i}", float(i % 97), 1) for i in range(300)]
    rel = spark.createDataFrame(rows, "g string, s double, c long")
    for nb in (1, 64):
        with pytest.raises(ValueError) as ei:
            _next(rel, partition_cols=("g",), n_range_buckets=nb,
                  max_partition_groups=256).collect()
        msg = str(ei.value)
        assert "vocabulary guard" in msg
        assert "300" in msg and "256" in msg
    # the offsets-row-budget ceiling applies too: 2**20 // 4096 = 256
    with pytest.raises(ValueError) as ei:
        _next(rel, partition_cols=("g",), n_range_buckets=4096).collect()
    assert "4096" in str(ei.value)
    # escape hatches: shuffle mode, explicit None, default ceiling
    assert _next(rel, partition_cols=("g",), bounds_join="shuffle",
                 max_partition_groups=256).count() == 300
    assert _next(rel, partition_cols=("g",),
                 max_partition_groups=None).count() == 300
    assert _next(rel, partition_cols=("g",)).count() == 300
    with pytest.raises(ValueError):
        _next(rel, bounds_join="zip")
