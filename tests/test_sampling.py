"""Deterministic sampling / split / rollup operators (north-star
training-data pipeline surface)."""

from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.rollup import time_rollup
from dump1090_db_stream_spark.operators.sampling import (
    hash_split,
    portable_hash,
    stratified_cap,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _events(spark):
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def test_hash_split_disjoint_exhaustive_stable(spark):
    docs = _docs(spark)
    out = hash_split(docs, "doc_id")
    n = docs.count()
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # exhaustive (every row gets exactly one label) and roughly 80/10/10
    assert sum(counts.values()) == n
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # stable under physical layout: repartitioned input -> identical sets
    again = hash_split(docs.repartition(7, "lang"), "doc_id")
    diff = (out.select("doc_id", "split")
            .exceptAll(again.select("doc_id", "split"))).count()
    assert diff == 0


def test_hash_split_membership_survives_growth(spark):
    """A row's split depends only on its id: the assignment computed on a
    subset equals the assignment computed on the full table (no
    renormalization — the property that keeps eval sets clean as the
    dataset grows)."""
    docs = _docs(spark)
    full = {r["doc_id"]: r["split"]
            for r in hash_split(docs, "doc_id").collect()}
    subset = {r["doc_id"]: r["split"]
              for r in hash_split(docs.filter(F.col("doc_id") % 3 == 0),
                                  "doc_id").collect()}
    assert subset == {k: v for k, v in full.items() if k % 3 == 0}


def test_stratified_cap_bounds_and_determinism(spark):
    docs = _docs(spark)
    out = stratified_cap(docs, ["lang", "source"], 3, "doc_id",
                         keep_rank=True)
    per = out.groupBy("lang", "source").agg(F.count("*").alias("n"))
    assert per.agg(F.max("n")).first()[0] <= 3
    # selection is hash-ranked: independent of input ordering
    shuffled = stratified_cap(
        docs.orderBy(F.col("n_chars").desc()), ["lang", "source"], 3,
        "doc_id", keep_rank=True)
    assert (out.select("doc_id", "rk").exceptAll(
        shuffled.select("doc_id", "rk")).count() == 0)
    # hash rank actually scrambles: kept ids are not simply the lowest ids
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    lowest = sorted(r["doc_id"] for r in docs.select("doc_id")
                    .orderBy("doc_id").limit(len(kept)).collect())
    assert kept != lowest


def test_portable_hash_matches_duckdb(spark):
    """The split hash is engine-portable: DuckDB computes the identical
    value from the documented closed form."""
    import duckdb

    from dump1090_db_stream_spark.operators.sampling import portable_hash_sql

    ids = [0, 1, 2, 41, 999_983, 7_654_321, 2**40 + 17]
    sdf = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["h"] for r in
           sdf.select("id", portable_hash("id").alias("h")).collect()}
    duck = duckdb.sql(
        "SELECT id, " + portable_hash_sql("id") + " AS h FROM (SELECT "
        "unnest(" + str(ids) + "::BIGINT[]) AS id)").fetchall()
    assert got == {i: h for i, h in duck}


def test_time_rollup_levels_consistent(spark):
    ev = _events(spark)
    out = time_rollup(ev, ts="ts", keys=["event_type"], value="value")
    rows = out.collect()
    by_res = {}
    for r in rows:
        by_res.setdefault(r["resolution"], []).append(r)
    # every level accounts for every input row
    n = ev.count()
    for res in ("minute", "hour", "day"):
        assert sum(r["n_rows"] for r in by_res[res]) == n
    # derived hour level == direct hour aggregation over raw data
    direct = {
        (r["b"], r["event_type"]): (r["n"], r["s"])
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("b"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(28,8)"))
                     .cast("double"), 6).alias("s")).collect()
    }
    derived = {(r["bucket_start"], r["event_type"]):
               (r["n_rows"], r["value_sum"]) for r in by_res["hour"]}
    assert derived == direct


def test_time_rollup_scans_raw_once(spark):
    """Every branch of the union except the finest reads a cached level
    (InMemoryTableScan), so the raw table is scanned once at execution.
    (The plan STRING still prints each cached relation's recipe incl.
    its FileScan — the probe is the cache nodes, not scan-string
    counts.)

    Runs with AQE on, as production does: the plan strings below are
    AQE's initial plan, which prints every branch's scan (the static
    plan prints the shared minute-level exchange once, as a
    ReusedExchange)."""
    spark.catalog.clearCache()  # cached subtrees auto-substitute by plan
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        ev = _events(spark)
        out = time_rollup(ev, ts="ts", keys=["event_type"], value="value")
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    branches = plan.split("+- Union")[1].split(":- ")
    cached = sum("InMemoryTableScan" in b for b in branches)
    assert cached >= 2  # hour + day read caches; only minute hits parquet


def test_uniform_sample_exact_deterministic(spark):
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import uniform_sample

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = sorted(r["doc_id"] for r in
               uniform_sample(df, 50, "doc_id", seed=2).collect())
    b = sorted(r["doc_id"] for r in uniform_sample(
        df.repartition(9), 50, "doc_id", seed=2).collect())
    assert a == b and len(a) == 50
    # different seed -> different sample
    c = sorted(r["doc_id"] for r in
               uniform_sample(df, 50, "doc_id", seed=3).collect())
    assert a != c
    # smaller input -> whole input
    small = spark.range(7).select(F.col("id").alias("doc_id"))
    assert uniform_sample(small, 50, "doc_id").count() == 7


def test_uniform_sample_plans_take_ordered(spark):
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import uniform_sample

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    plan = (uniform_sample(df, 10, "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort


def test_weighted_sample_rates_and_clamping(spark):
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import weighted_sample

    n = 6000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, 0.0)      # never kept
         .when(F.col("id") % 3 == 1, 1.0)      # always kept
         .otherwise(0.25).alias("w"))
    out = weighted_sample(df, "w", "doc_id", seed=7).collect()
    kept = {r["doc_id"] for r in out}
    assert not any(i in kept for i in range(0, n, 3))      # w=0 -> none
    assert all(i in kept for i in range(1, n, 3))          # w=1 -> all
    frac = sum(1 for i in range(2, n, 3) if i in kept) / (n / 3)
    assert 0.18 < frac < 0.32                              # ~25%
    # clamping: weights outside [0,1] behave as 0/1
    df2 = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, -0.5).otherwise(2.0).alias("w"))
    got = {r["doc_id"] for r in
           weighted_sample(df2, "w", "doc_id").collect()}
    assert got == set(range(50, 100))


def test_weighted_fixed_sample_size_bias_and_determinism(spark):
    from dump1090_db_stream_spark.operators.sampling import (
        weighted_fixed_sample,
    )

    # 500 rows, half weight 1, half weight 10: the heavy half should
    # dominate a 100-row sample (expected ~91%); exact set is seeded
    df = spark.createDataFrame(
        [(i, 10.0 if i % 2 else 1.0) for i in range(500)],
        ["rid", "w"])
    s1 = weighted_fixed_sample(df, 100, "w", "rid", seed=3)
    s2 = weighted_fixed_sample(df, 100, "w", "rid", seed=3)
    ids1 = [r["rid"] for r in s1.collect()]
    assert ids1 == [r["rid"] for r in s2.collect()]  # deterministic
    assert len(ids1) == 100 and len(set(ids1)) == 100
    heavy = sum(1 for i in ids1 if i % 2)
    assert heavy >= 75  # binomial(100, .91) far above 75

    ids_other = {r["rid"]
                 for r in weighted_fixed_sample(df, 100, "w", "rid",
                                                seed=4).collect()}
    assert set(ids1) != ids_other  # seed changes the draw


def test_weighted_fixed_sample_excludes_nonpositive(spark):
    from dump1090_db_stream_spark.operators.sampling import (
        weighted_fixed_sample,
    )

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 2.0), (4, 1.0)], ["rid", "w"])
    got = {r["rid"] for r in
           weighted_fixed_sample(df, 10, "w", "rid").collect()}
    assert got == {3, 4}


def test_weighted_fixed_sample_plans_take_ordered(spark):
    from dump1090_db_stream_spark.operators.sampling import (
        weighted_fixed_sample,
    )

    df = spark.createDataFrame([(i, 1.0) for i in range(50)],
                               ["rid", "w"])
    plan = (weighted_fixed_sample(df, 5, "w", "rid")
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_token_budget_sample_prefix_rule(spark):
    """The kept set is the maximal hash-ordered PREFIX within budget:
    verified against a Python replay of the same hash order."""
    from dump1090_db_stream_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = [(i, "src", " ".join(["w"] * (5 + i % 7))) for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "source", "text"])
    got = {r["doc_id"]: (r["n_tokens"], r["cum_tokens"]) for r in
           token_budget_sample(df, 100, keys=["source"],
                               seed=3).collect()}

    # replay: portable seeded hash order, running sum, prefix cut
    M1, A, C, P = 1_000_003, 2_654_435_761, 40_503, 1_000_000_007

    def h(x, seed):
        a, c = A + 2 * seed, C + seed
        h1 = ((x % M1) * a + c) % P
        return ((h1 % M1) * A + C) % P

    order = sorted(range(40), key=lambda i: (h(i, 3), i))
    want, cum = {}, 0
    for i in order:
        n = 5 + i % 7
        if cum + n > 100:
            break
        cum += n
        want[i] = (n, cum)
    assert got == want
    assert 0 < len(want) < 40  # the budget genuinely cuts


def test_token_budget_sample_per_key_budgets_and_token_col(spark):
    from dump1090_db_stream_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, "a" if i < 10 else "b", 10) for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tok"])
    got = token_budget_sample(df, 35, keys=["source"],
                              token_col="n_tok").collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["cum_tokens"])
    # each key fills its OWN 35-token budget: 3 docs of 10 tokens
    assert {k: sorted(v) for k, v in by_src.items()} == {
        "a": [10, 20, 30], "b": [10, 20, 30]}


def test_token_budget_sample_layout_invariant(spark):
    """Repartitioning must not change the sample — the property rand()
    lacks and the whole reason the order is a hash."""
    from dump1090_db_stream_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = [(i, f"s{i % 3}", " ".join(["t"] * (3 + i % 5)))
            for i in range(60)]
    df = spark.createDataFrame(docs, ["doc_id", "source", "text"])
    a = {(r["source"], r["doc_id"]) for r in
         token_budget_sample(df, 30, keys=["source"]).collect()}
    b = {(r["source"], r["doc_id"]) for r in
         token_budget_sample(df.repartition(13), 30,
                             keys=["source"]).collect()}
    assert a == b and a


def test_token_budget_sample_rejects_negative_budget(spark):
    import pytest

    from dump1090_db_stream_spark.operators.sampling import (
        token_budget_sample,
    )

    df = spark.createDataFrame([(1, "x", "a b")],
                               ["doc_id", "source", "text"])
    with pytest.raises(ValueError, match="budget_tokens"):
        token_budget_sample(df, -1)


def test_token_budget_sample_null_tokens_excluded(spark):
    """NULL token counts (NULL text) are excluded up front — a NULL
    cost must not decide membership by its position in the hash order
    (the running sum would drop a NULL-first row but keep later ones)."""
    from dump1090_db_stream_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(0, "s", None), (1, "s", "a b c"), (2, "s", None),
            (3, "s", "d e")]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = token_budget_sample(df, 100, keys=["source"]).collect()
    assert sorted(r["doc_id"] for r in got) == [1, 3]
    assert all(r["n_tokens"] is not None for r in got)


def test_token_budget_sample_negative_costs_excluded(spark):
    """A negative user-supplied token count would let a document AFTER
    the overflow point re-enter (cum dips back under budget) — the
    prefix contract only holds for non-negative costs, so negatives are
    excluded like NULLs. Zero-cost rows pass through for free."""
    from dump1090_db_stream_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, "s", t) for i, t in enumerate([60, 50, -30, 10, 0])]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tok"])
    got = token_budget_sample(df, 100, keys=["source"],
                              token_col="n_tok", seed=11).collect()
    ids = {r["doc_id"] for r in got}
    assert 2 not in ids            # the negative row is gone entirely
    assert all(r["cum_tokens"] <= 100 for r in got)
    # kept set must be a PREFIX of the hash order over the valid rows
    M1, A, C, P = 1_000_003, 2_654_435_761, 40_503, 1_000_000_007

    def h(x, seed=11):
        a, c = A + 2 * seed, C + seed
        h1 = ((x % M1) * a + c) % P
        return ((h1 % M1) * A + C) % P

    toks = {0: 60, 1: 50, 3: 10, 4: 0}
    order = sorted(toks, key=lambda i: (h(i), i))
    cum, want = 0, set()
    for i in order:
        if cum + toks[i] > 100:
            break
        cum += toks[i]
        want.add(i)
    assert ids == want


def test_temperature_sample_rates_and_determinism(spark):
    import pytest
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import (
        temperature_sample,
    )

    # 400 big / 100 rare: alpha=0.5 -> big keeps (4)^-0.5 = 0.5,
    # rare keeps 1.0
    rows = [(i, "big" if i < 400 else "rare") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = temperature_sample(df, alpha=0.5, seed=1)
    rates = {r["source"]: r["keep_rate"]
             for r in out.select("source", "keep_rate").distinct().collect()}
    assert rates == {"big": 0.5, "rare": 1.0}
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["rare"] == 100                 # rarest keeps ALL
    assert 140 <= counts["big"] <= 260           # ~200 expected, hash noise
    # deterministic under rerun
    again = temperature_sample(df, alpha=0.5, seed=1)
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in again.collect())
    # alpha=1 is the identity mixture (every rate 1.0)
    assert temperature_sample(df, alpha=1.0, seed=1).count() == 500
    with pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, alpha=1.5)


def test_negative_pairs_contract(spark):
    import pytest
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import negative_pairs

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    out = negative_pairs(df, k=3, n_buckets=16, seed=2)
    rows = out.collect()
    # one winner per (anchor, slot), never self, slots in 1..3
    assert len(rows) == 600
    assert all(r["neg_id"] != r["doc_id"] for r in rows)
    assert {r["slot"] for r in rows} == {1, 2, 3}
    assert out.groupBy("doc_id", "slot").count().filter(
        F.col("count") > 1).count() == 0
    # deterministic; a different seed re-draws (some pairs change)
    again = sorted(map(tuple, negative_pairs(
        df, k=3, n_buckets=16, seed=2).collect()))
    assert sorted(map(tuple, rows)) == again
    other = sorted(map(tuple, negative_pairs(
        df, k=3, n_buckets=16, seed=9).collect()))
    assert other != again
    # negatives are spread, not degenerate: many distinct partners
    assert out.select("neg_id").distinct().count() >= 16
    with pytest.raises(ValueError, match="k must"):
        negative_pairs(df, k=0)


def test_temperature_sample_excludes_null_sources(spark):
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import (
        temperature_sample,
    )

    # advisor r5: a tiny NULL group must NOT become n_min (which would
    # deflate every real source's keep rate) — NULLs are excluded
    # BEFORE the count, and never appear in the output
    rows = [(i, "big" if i < 400 else ("rare" if i < 500 else None))
            for i in range(505)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = temperature_sample(df, alpha=0.5, seed=1)
    rates = {r["source"]: r["keep_rate"]
             for r in out.select("source", "keep_rate").distinct().collect()}
    # n_min = 100 (rare), NOT 5 (the NULL group): big keeps 4^-0.5
    assert rates == {"big": 0.5, "rare": 1.0}
    assert out.filter(F.col("source").isNull()).count() == 0


def test_dsir_logweights_ranks_target_like_docs_higher(spark):
    import pytest
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import dsir_logweights

    # target docs speak "cat dog fish"; background speaks "rock sand"
    docs = (
        [(i, "cat dog fish cat dog", True) for i in range(20)]
        + [(100 + i, "rock sand mud rock sand", False) for i in range(20)]
        # candidates (non-target): one target-like, one background-like
        + [(500, "cat dog fish dog cat", False),
           (501, "rock sand mud sand rock", False)]
    )
    df = spark.createDataFrame(docs, ["doc_id", "text", "is_t"])
    got = {r["doc_id"]: r for r in
           dsir_logweights(df, F.col("is_t"), n_buckets=512).collect()}
    assert len(got) == 42
    assert got[500]["log_weight"] > got[501]["log_weight"]
    assert got[500]["log_weight"] > 0 > got[501]["log_weight"]
    assert got[500]["n_feats"] == 9  # 5 unigrams + 4 bigrams
    # deterministic under repartition
    again = {r["doc_id"]: r["log_weight"] for r in dsir_logweights(
        df.repartition(7), F.col("is_t"), n_buckets=512).collect()}
    assert again == {k: v["log_weight"] for k, v in got.items()}
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_logweights(df, F.col("is_t"), n_buckets=1)


def test_quantile_normalize_aligns_shifted_groups(spark):
    import pytest

    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    # group "b" is group "a" shifted +100: after normalization the two
    # groups' value distributions must coincide exactly
    rows = ([(i, "a", float(i)) for i in range(200)]
            + [(1000 + i, "b", float(i + 100)) for i in range(200)])
    df = spark.createDataFrame(rows, ["doc_id", "src", "score"])
    out = quantile_normalize(df, "score", "src", n_quantiles=20)
    a = sorted(r["norm_value"] for r in out.filter("src='a'").collect())
    b = sorted(r["norm_value"] for r in out.filter("src='b'").collect())
    assert a == b                      # batch effect removed
    vals = {r["norm_value"] for r in out.collect()}
    raw = {float(v) for v in list(range(200)) + list(range(100, 300))}
    assert vals <= raw                 # outputs are actual data values
    # normalized ordering preserves within-group ordering
    byid = {r["doc_id"]: r["norm_value"] for r in out.collect()}
    assert all(byid[i] <= byid[i + 1] for i in range(199))
    with pytest.raises(ValueError, match="n_quantiles"):
        quantile_normalize(df, "score", "src", n_quantiles=0)


def test_quantile_normalize_total_mapping_small_n(spark):
    """r6 ADVICE bug: with total non-null rows <= n_quantiles the
    global bucket grid is sparse and the old inner join silently
    dropped every row whose within-group bucket was unoccupied
    globally. The mapping is now TOTAL: every non-null row gets a
    norm_value (the nearest occupied bucket at or below its own)."""
    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    # 5 rows, 100 quantiles: occupied global buckets are {0,25,50,75,99}
    # but group "b"'s two rows rank to buckets {0, 99} and group "a"'s
    # three to {0, 50, 99} — intermediate q values must still resolve
    rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
            (4, "b", 15.0), (5, "b", 25.0)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "score"])
    out = quantile_normalize(df, "score", "src", n_quantiles=100)
    got = {r["doc_id"]: r["norm_value"] for r in out.collect()}
    assert len(got) == 5                      # NO dropped rows
    assert set(got.values()) <= {10.0, 15.0, 20.0, 25.0, 30.0}
    # monotone within each group
    assert got[1] <= got[2] <= got[3] and got[4] <= got[5]
    # extremes map to the global extremes
    assert got[1] == 10.0 and got[3] == 30.0 and got[5] == 30.0


def test_quantile_normalize_matches_rowgrain_reference(spark):
    """The r7/r8 scale rewrite (salted tie row_numbers + distributed
    distinct-value prefix-sum) must reproduce the row-grain
    percent_rank recipe bit-for-bit — checked against an inline
    reference implementation on data with heavy ties, a hot group,
    and a single-row group. Tie order is (value, salt, id) with the
    portable md5 salt (tie_salt=8), the r8 degenerate-skew guard."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.dedup import _portable_hash60
    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    rng = random.Random(7)
    rows = [(i, "hot", float(rng.randint(0, 12))) for i in range(400)]
    rows += [(1000 + i, "mid", float(rng.randint(0, 40)))
             for i in range(60)]
    rows += [(2000, "solo", 5.0)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "score"])
    nq = 20
    base = df.select(
        F.col("doc_id").alias("id"), F.col("src").alias("grp"),
        F.col("score").cast("double").alias("v"),
        F.pmod(_portable_hash60(F.col("doc_id").cast("string")),
               F.lit(8)).alias("sl"))
    wg = Window.partitionBy("grp").orderBy("v", "sl", "id")
    wa = Window.orderBy("v", "sl", "id")
    ranked = base.withColumn(
        "q", F.least(F.floor(F.percent_rank().over(wg) * nq),
                     F.lit(nq - 1)).cast("int"))
    occupied = (base.withColumn(
        "gq", F.least(F.floor(F.percent_rank().over(wa) * nq),
                      F.lit(nq - 1)).cast("int"))
        .groupBy("gq").agg(F.max("v").alias("_nv")))
    w_fill = (Window.orderBy("gq")
              .rowsBetween(Window.unboundedPreceding, 0))
    dense = (df.sparkSession.range(nq)
             .select(F.col("id").cast("int").alias("gq"))
             .join(occupied, "gq", "left")
             .select("gq", F.max("_nv").over(w_fill).alias("norm_value")))
    ref = {(r["id"], r["grp"]): r["norm_value"]
           for r in ranked.join(dense, ranked["q"] == dense["gq"])
           .select("id", "grp", "norm_value").collect()}
    got = {(r["doc_id"], r["src"]): r["norm_value"]
           for r in quantile_normalize(
               df, "score", "src", n_quantiles=nq).collect()}
    assert got == ref


def test_quantile_normalize_plan_has_no_input_grain_global_sort(spark):
    """The scale contract of the r7 rewrite, pinned with the
    registry-wide gate's detector."""
    from test_plans import plan_of, single_partition_window_sites

    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    df = spark.createDataFrame(
        [(i, "g" + str(i % 3), float(i % 17)) for i in range(100)],
        ["doc_id", "src", "score"])
    out = quantile_normalize(df, "score", "src", n_quantiles=10)
    assert single_partition_window_sites(plan_of(out)) == []


def test_quantile_normalize_degenerate_all_ties_is_salted(spark):
    """The r8 degenerate-skew guard (r7 verdict ask #6): an all-equal
    value column used to send every row through ONE row_number
    partition. Now every input-grain row_number is partitioned on the
    salt too (plan-asserted), and a 1M-identical-value input completes
    with the correct (trivial) normalization."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    df = spark.range(1_000_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("src"),
        F.lit(5.0).alias("score"))
    out = quantile_normalize(df, "score", "src", n_quantiles=10)
    # plan: every row_number window spec carries the salt column
    plan = out._jdf.queryExecution().executedPlan().toString()
    rn_specs = [ln for ln in plan.splitlines()
                if "row_number()" in ln]
    assert rn_specs and all("_sl" in ln for ln in rn_specs)
    agg = out.agg(F.count(F.lit(1)).alias("n"),
                  F.min("norm_value").alias("lo"),
                  F.max("norm_value").alias("hi")).collect()[0]
    assert (agg["n"], agg["lo"], agg["hi"]) == (1_000_000, 5.0, 5.0)


def test_quantile_normalize_continuous_values_no_global_funnel(spark):
    """The r8 global-grid fix (r7 verdict ask #1 second half): a
    CONTINUOUS value column (all distinct) routes the global
    cumulative through the bucketed prefix-sum — plan stays clean —
    and the result still matches the row-grain percent_rank recipe."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from test_plans import plan_of, single_partition_window_sites

    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    rng = random.Random(11)
    rows = [(i, "s" + str(i % 4), rng.random()) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "score"])
    out = quantile_normalize(df, "score", "src", n_quantiles=25)
    assert single_partition_window_sites(plan_of(out)) == []
    # all-distinct values: tie row_numbers are all 1, so the salted
    # order equals plain (v, id) order and percent_rank replays it
    nq = 25
    base = df.select(F.col("doc_id").alias("id"),
                     F.col("src").alias("grp"),
                     F.col("score").cast("double").alias("v"))
    wg = Window.partitionBy("grp").orderBy("v", "id")
    wa = Window.orderBy("v", "id")
    ranked = base.withColumn(
        "q", F.least(F.floor(F.percent_rank().over(wg) * nq),
                     F.lit(nq - 1)).cast("int"))
    occupied = (base.withColumn(
        "gq", F.least(F.floor(F.percent_rank().over(wa) * nq),
                      F.lit(nq - 1)).cast("int"))
        .groupBy("gq").agg(F.max("v").alias("_nv")))
    w_fill = (Window.orderBy("gq")
              .rowsBetween(Window.unboundedPreceding, 0))
    dense = (df.sparkSession.range(nq)
             .select(F.col("id").cast("int").alias("gq"))
             .join(occupied, "gq", "left")
             .select("gq", F.max("_nv").over(w_fill).alias("norm_value")))
    ref = {r["id"]: r["norm_value"]
           for r in ranked.join(dense, ranked["q"] == dense["gq"])
           .select("id", "norm_value").collect()}
    got = {r["doc_id"]: r["norm_value"] for r in out.collect()}
    assert got == ref


def test_kfold_disjoint_exhaustive_and_seed_redraw(spark):
    from dump1090_db_stream_spark.operators.sampling import kfold_assign

    docs = _docs(spark)
    out = kfold_assign(docs, "doc_id", n_folds=5, seed=7)
    rows = out.select("doc_id", "fold").collect()
    assert {r["fold"] for r in rows} <= set(range(5))
    assert len(rows) == docs.count()          # exactly one fold per row
    # deterministic rerun
    again = {r["doc_id"]: r["fold"]
             for r in kfold_assign(docs, "doc_id", 5, 7).collect()}
    assert again == {r["doc_id"]: r["fold"] for r in rows}
    # a different seed is a genuinely different partition of the ids
    other = {r["doc_id"]: r["fold"]
             for r in kfold_assign(docs, "doc_id", 5, 8).collect()}
    assert other != again


def test_leakage_safe_split_keeps_clusters_together(spark):
    """THE invariant the operator exists for: every near-dup cluster
    lands entirely inside one split — zero cluster straddles."""
    from dump1090_db_stream_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from dump1090_db_stream_spark.operators.graph import canonical_map
    from dump1090_db_stream_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = _docs(spark)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.03)
    canon = canonical_map(docs, pairs)
    out = leakage_safe_split(docs, canon)
    straddlers = (out.groupBy("canonical_id")
                  .agg(F.countDistinct("split").alias("k"))
                  .filter(F.col("k") > 1).count())
    assert straddlers == 0
    # and the clustering is non-trivial on this fixture (there ARE
    # multi-member clusters, else the test proves nothing)
    assert (out.groupBy("canonical_id").count()
            .filter(F.col("count") > 1).count()) > 0
    # exhaustive: every doc got exactly one label
    assert out.count() == docs.count()


def test_leakage_safe_split_partial_map_singleton_semantics(spark):
    """Ids absent from the canonical map split by their own id —
    identical to hash_split for those rows."""
    from dump1090_db_stream_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = _docs(spark)
    empty = (docs.select(F.col("doc_id"),
                         F.col("doc_id").alias("canonical_id"))
             .filter(F.lit(False)))
    via_cluster = {r["doc_id"]: r["split"]
                   for r in leakage_safe_split(docs, empty).collect()}
    via_hash = {r["doc_id"]: r["split"]
                for r in hash_split(docs, "doc_id").collect()}
    assert via_cluster == via_hash
