"""Direct contracts of operators.prefix_sum.distributed_prev_counts_multi:
exactness against plain global windows, the join it picks from the
group count (broadcast within the budget, plain equi-joins above it)
and the NaN exclusion the
prefix-sum's monotone bucketing requires of its callers (r9 ADVICE:
``NaN >= bound`` is false so NaN rows land in bucket 0, but the
within-bucket window sorts NaN LAST — their _prev would count only
bucket-0 rows)."""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest


def _prev_counts(spark, rows, **kw):
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    rel = spark.createDataFrame(rows, ["g", "v", "c"])
    return distributed_prev_counts_multi(rel, "v", ("c",),
                                         partition_cols=("g",), **kw)


@contextmanager
def _equi_join_side():
    """Shrink the broadcast budget to one group, so every grouped call
    with two or more groups takes the equi-join side."""
    from dump1090_db_stream_spark.operators import prefix_sum

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(prefix_sum, "_OFFSET_ROW_BUDGET", 1)
        yield


def _hints_broadcast(df) -> bool:
    return "strategy=broadcast" in \
        df._jdf.queryExecution().optimizedPlan().toString()


def test_vocabulary_guard_picks_equi_join_for_unbounded_group_key(spark):
    """Above the budget — here 300 groups at n_range_buckets=4096,
    where 2**20 // 4096 = 256 — the per-group bounds and offsets
    attach through plain equi-joins instead of a broadcast, with the
    same values as the broadcast side (64 buckets, same data) and the
    plain global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(f"domain_{i}", float(i % 97 + v), 1 + v)
            for i in range(300) for v in range(3)]
    wide = _prev_counts(spark, rows, n_range_buckets=4096,
                        with_totals=True)
    assert not _hints_broadcast(wide)
    narrow = _prev_counts(spark, rows, with_totals=True)
    assert _hints_broadcast(narrow)
    got = {(r["g"], r["v"]): (r["_prevc"], r["_totalc"])
           for r in wide.collect()}
    assert got == {(r["g"], r["v"]): (r["_prevc"], r["_totalc"])
                   for r in narrow.collect()}
    rel = spark.createDataFrame(rows, ["g", "v", "c"])
    w = Window.partitionBy("g").orderBy("v")
    plain = rel.select(
        "g", "v",
        F.coalesce(F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("p"),
        F.sum("c").over(Window.partitionBy("g")).alias("t"))
    assert got == {(r["g"], r["v"]): (r["p"], r["t"])
                   for r in plain.collect()}


def test_vocabulary_guard_accounts_for_offsets_broadcast(spark):
    """r10 ADVICE: the grouped OFFSETS broadcast is groups x
    n_range_buckets rows — several times the bounds relation — so the
    budget is min(65,536, 2**20 // n_range_buckets) groups: a huge
    bucket count moves even a modest vocabulary to the equi-join
    side."""
    rows = [(f"domain_{i}", float(i % 97), 1) for i in range(300)]
    # 2**20 // 4096 = 256 < 300 groups
    assert not _hints_broadcast(_prev_counts(spark, rows,
                                             n_range_buckets=4096))
    # 2**20 // 2048 = 512 >= 300 groups; default 64 buckets: 16,384
    assert _hints_broadcast(_prev_counts(spark, rows,
                                         n_range_buckets=2048))
    assert _prev_counts(spark, rows).count() == 300


def test_shuffle_bounds_join_matches_broadcast_exactly(spark):
    """The equi-join side is bit-identical to the broadcast side (the
    decomposition does not depend on the join strategy), and its plan
    carries no broadcast HINT on the grouped bounds or offsets (AQE may
    still choose a broadcast join at runtime when a side turns out
    tiny — that is the point of leaving the strategy to Catalyst)."""
    import random

    rng = random.Random(10)
    rows = [(f"g{i % 7}", rng.random(), 1 + i % 3) for i in range(500)]
    pinned = _prev_counts(spark, rows, with_totals=True)
    want = {(r["g"], r["v"]): (r["_prevc"], r["_totalc"])
            for r in pinned.collect()}
    with _equi_join_side():
        shuffled = _prev_counts(spark, rows, with_totals=True)
    got = {(r["g"], r["v"]): (r["_prevc"], r["_totalc"])
           for r in shuffled.collect()}
    assert got == want
    assert not _hints_broadcast(shuffled)
    # within the budget both grouped attaches ARE hinted
    assert _hints_broadcast(pinned)


def test_shuffle_bounds_join_handles_unbounded_group_key(spark):
    """A group cardinality far above the broadcast budget computes the
    exact per-group exclusive prefix sums through plain equi-joins."""
    rows = [(f"domain_{i}", float(v), 1)
            for i in range(2_000) for v in (1, 2)]
    with _equi_join_side():
        got = _prev_counts(spark, rows)
    assert not _hints_broadcast(got)
    assert got.count() == 4_000
    sample = {(r["g"], r["v"]): r["_prevc"] for r in
              got.filter(got.g == "domain_7").collect()}
    assert sample == {("domain_7", 1.0): 0, ("domain_7", 2.0): 1}


def test_vocabulary_guard_passes_bounded_vocabulary(spark):
    """Under the budget the choice is invisible — values match the
    closed-form exclusive prefix sum per group."""
    rows = [("en", 1.0, 2), ("en", 2.0, 3), ("en", 3.0, 5),
            ("de", 1.5, 7), ("de", 2.5, 11)]
    got = {(r["g"], r["v"]): r["_prevc"]
           for r in _prev_counts(spark, rows).collect()}
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
    second count), degenerate n_range_buckets=1, and the equi-join
    side."""
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

    def _multi(pcols, nb):
        src = rel if pcols else rel.groupBy("s").agg(
            F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        out = distributed_prev_counts_multi(
            src, "s", ("ca", "cb"), n_range_buckets=nb,
            partition_cols=pcols, with_totals=True, with_next=True)
        return {tuple(r[p] for p in pcols) + (r["s"],):
                [r["_prevca"], r["_totalca"],
                 r["_prevcb"], r["_totalcb"], r["_next"]]
                for r in out.collect()}

    for pcols, nb in ((("g",), 64), (("g",), 7), (("g",), 1),
                      ((), 64), ((), 1)):
        assert _multi(pcols, nb) == _plain(pcols), (pcols, nb)
    with _equi_join_side():
        for nb in (7, 1):
            assert _multi(("g",), nb) == _plain(("g",)), nb


def test_distributed_next_matches_plain_lead(spark):
    """``with_next`` adds ``_next``, the next distinct ``order_col``
    value in the group, equal to a plain global-Window ``lead`` at any
    bucket count, ungrouped, and on the equi-join side."""
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
    # ungrouped + the equi-join side
    rel1 = rel.filter(F.col("g") == "g1").select("s", "c")
    exp1 = {r["s"]: r["_lead"] for r in
            rel1.withColumn("_lead",
                            F.lead("s").over(Window.orderBy("s")))
            .collect()}
    got1 = {r["s"]: r["_next"] for r in _next(rel1).collect()}
    assert got1 == exp1
    with _equi_join_side():
        gots = {(r["g"], r["s"]): r["_next"] for r in
                _next(rel, partition_cols=("g",)).collect()}
    assert gots == expected


def test_multi_matches_single_passes(spark):
    """ONE bucketed pass carrying several count columns plus the
    ordered neighbor equals the composition of one-column passes (and a
    separate neighbor pass) re-joined on (group, order): same
    bucketing, same integer window sums, only the number of columns
    riding each stage differs. Covers grouped + ungrouped, ties
    (zero-filled second count), degenerate n_range_buckets=1, and the
    equi-join side."""
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

    def _pass(pcols, nb, cols, with_next=False):
        return distributed_prev_counts_multi(
            rel, "s", cols, n_range_buckets=nb, partition_cols=pcols,
            with_totals=True, with_next=with_next).collect()

    def _single(pcols, nb):
        keyed = {}
        for r in _pass(pcols, nb, ("ca",)):
            k = tuple(r[p] for p in pcols) + (r["s"],)
            keyed[k] = [r["_prevca"], r["_totalca"], None, None, None]
        for r in _pass(pcols, nb, ("cb",)):
            k = tuple(r[p] for p in pcols) + (r["s"],)
            keyed[k][2:4] = [r["_prevcb"], r["_totalcb"]]
        for r in _pass(pcols, nb, ("ca",), with_next=True):
            k = tuple(r[p] for p in pcols) + (r["s"],)
            keyed[k][4] = r["_next"]
        return keyed

    def _multi(pcols, nb):
        return {tuple(r[p] for p in pcols) + (r["s"],):
                [r["_prevca"], r["_totalca"],
                 r["_prevcb"], r["_totalcb"], r["_next"]]
                for r in _pass(pcols, nb, ("ca", "cb"), with_next=True)}

    for pcols, nb in ((("g",), 64), (("g",), 1), ((), 64), ((), 1)):
        assert _multi(pcols, nb) == _single(pcols, nb), (pcols, nb)
    with _equi_join_side():
        assert _multi(("g",), 7) == _single(("g",), 7)


def test_multi_vocabulary_guard_and_validation(spark):
    """Above the budget the pass takes the equi-join side everywhere
    it would broadcast — including the degenerate one-bucket branch
    with no totals, where only the offsets relation is grouped — with
    unchanged values; and it validates its arguments."""
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    rows = [(f"domain_{i}", float(i % 97), 1, 1) for i in range(300)]
    rel = spark.createDataFrame(rows, ["g", "s", "ca", "cb"])

    def _pass(nb, tot):
        return distributed_prev_counts_multi(
            rel, "s", ("ca", "cb"), n_range_buckets=nb,
            partition_cols=("g",), with_totals=tot)

    for nb, tot in ((64, True), (1, False)):
        want = sorted(map(tuple, _pass(nb, tot).collect()))
        with _equi_join_side():
            out = _pass(nb, tot)
        assert not _hints_broadcast(out)
        assert sorted(map(tuple, out.collect())) == want
    with pytest.raises(ValueError, match="cnt_cols"):
        distributed_prev_counts_multi(rel, "s", ())
    with pytest.raises(ValueError, match="n_range_buckets"):
        distributed_prev_counts_multi(rel, "s", ("ca",),
                                      n_range_buckets=0)


def test_distributed_next_vocabulary_guard(spark):
    """With ``with_next`` the offsets relation also carries the
    groups x buckets stitch values, so the neighbor pass follows the
    same budget: 300 groups at n_range_buckets=4096 (2**20 // 4096 =
    256) and the degenerate n_range_buckets=1 branch above a shrunk
    budget take the equi-join side with the plain ``lead`` values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    def _next(rel, **kw):
        return distributed_prev_counts_multi(
            rel, "s", ("c",), partition_cols=("g",), with_next=True, **kw)

    rows = [(f"domain_{i}", float(i % 97 + v), 1)
            for i in range(300) for v in range(2)]
    rel = spark.createDataFrame(rows, "g string, s double, c long")
    want = {(r["g"], r["s"]): r["_lead"] for r in rel.withColumn(
        "_lead", F.lead("s").over(Window.partitionBy("g").orderBy("s")))
        .collect()}
    wide = _next(rel, n_range_buckets=4096)
    with _equi_join_side():
        one = _next(rel, n_range_buckets=1)
    for out in (wide, one):
        assert not _hints_broadcast(out)
        assert {(r["g"], r["s"]): r["_next"]
                for r in out.collect()} == want
    assert _hints_broadcast(_next(rel))
