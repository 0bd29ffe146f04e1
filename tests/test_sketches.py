"""Sketch aggregates: accuracy vs exact, and mergeability (the property
that makes sketch columns a continuous aggregate)."""

from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.sketches import (
    approx_group_stats,
    daily_hash_samples,
    daily_sketches,
    span_estimate,
    threshold_distinct,
    threshold_distinct_sql_exprs,
    union_estimate,
)

SF_DIR = "/root/testdata/sf0.01"


def _events(spark):
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def test_approx_stats_within_error_bounds(spark):
    ev = _events(spark)
    approx = {r["event_type"]: r for r in approx_group_stats(
        ev, ["event_type"], "user_id", "value").collect()}
    exact = {r["event_type"]: r for r in ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("d"),
        F.expr("percentile(value, 0.5)").alias("m"),
        F.min("value").alias("lo"), F.max("value").alias("hi")).collect()}
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        # HLL++ with rsd=0.01: allow 5 sigma
        assert abs(a["approx_distinct"] - e["d"]) <= max(0.05 * e["d"], 2)
        # percentile_approx: rank-error based; generous value tolerance
        spread = e["hi"] - e["lo"]
        assert abs(a["approx_median"] - e["m"]) <= 0.05 * spread


def test_sketch_union_is_lossless_and_accurate(spark):
    """Merging per-day sketches gives the SAME estimate as one global
    sketch (HLL union at equal lg_k is lossless), and both land within
    the sketch's error bound of the exact distinct count."""
    ev = _events(spark)
    per_day = daily_sketches(ev, ts="ts", keys=["event_type"],
                             distinct_col="user_id")
    merged = {r["event_type"]: r["distinct_estimate"]
              for r in union_estimate(per_day, ["event_type"]).collect()}
    direct = {r["event_type"]: r["est"] for r in ev.groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("user_id", F.lit(12))).alias("est"))
              .collect()}
    assert merged == direct
    exact = {r["event_type"]: r["d"] for r in ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("d")).collect()}
    for et, est in merged.items():
        assert abs(est - exact[et]) <= max(0.06 * exact[et], 2)


def test_global_union_from_stored_sketches(spark):
    """The ad-hoc-span workflow: estimate over ALL days and types from
    sketch bytes alone (keys=[]) matches the exact global distinct."""
    ev = _events(spark)
    per_day = daily_sketches(ev, ts="ts", keys=["event_type"],
                             distinct_col="user_id")
    est = union_estimate(per_day, keys=[]).first()["distinct_estimate"]
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) <= max(0.06 * exact, 2)


def test_threshold_distinct_accuracy_and_duckdb_portability(spark):
    """Tier-3 portable sketch: the estimate lands within sampling error
    of the exact distinct AND is reproduced bit-for-bit by DuckDB
    running the SQL twin — the property the HLL tiers cannot offer.
    Uses event_id (unique per row) for a high-cardinality target."""
    import duckdb

    ev = _events(spark)
    got = {r["event_type"]: (r["n"], r["est_distinct"])
           for r in threshold_distinct(
               ev, ["event_type"], "event_id", rate=8).collect()}
    exact = {r["event_type"]: r["d"] for r in ev.groupBy("event_type")
             .agg(F.countDistinct("event_id").alias("d")).collect()}
    for et, (_, est) in got.items():
        # stderr ~ sqrt((1-p)/(p*D)) ~ 6% at D=2000, p=1/8; allow 5 sigma
        assert abs(est - exact[et]) <= 0.30 * exact[et]
    _, est_sql = threshold_distinct_sql_exprs("event_id", rate=8)
    oracle = {et: (n, e) for et, n, e in duckdb.connect().execute(
        f"""SELECT event_type, count(*), {est_sql}
            FROM '{SF_DIR}/events.parquet' GROUP BY event_type"""
    ).fetchall()}
    assert got == oracle


def test_hash_sample_rollup_is_lossless(spark):
    """Merging stored per-day hash samples yields the IDENTICAL estimate
    as a direct raw scan (deterministic subset keyed by value hash ->
    set-union loses nothing), for every group and for the global span."""
    ev = _events(spark)
    per_day = daily_hash_samples(ev, ts="ts", keys=["event_type"],
                                 distinct_col="user_id", rate=4)
    merged = {r["event_type"]: r["est_distinct"]
              for r in span_estimate(per_day, ["event_type"],
                                     rate=4).collect()}
    direct = {r["event_type"]: r["est_distinct"]
              for r in threshold_distinct(ev, ["event_type"], "user_id",
                                          rate=4)
              .select("event_type", "est_distinct").collect()}
    assert merged == direct
    glob = span_estimate(per_day, keys=[], rate=4).first()["est_distinct"]
    assert glob == threshold_distinct(
        ev.withColumn("g", F.lit(1)), ["g"], "user_id",
        rate=4).first()["est_distinct"]


def test_threshold_distinct_invariant_to_layout(spark):
    """Repartitioning must not change the estimate (hash-driven, not
    RNG-driven) — the reproducibility contract of sampling.py holds for
    the sketch tier too."""
    ev = _events(spark)
    a = sorted(threshold_distinct(ev, ["event_type"], "user_id",
                                  rate=4).collect())
    b = sorted(threshold_distinct(ev.repartition(7), ["event_type"],
                                  "user_id", rate=4).collect())
    assert a == b


def test_threshold_quantiles_accuracy_and_merge_losslessness(spark, sf_dir):
    """(a) sampled p50/p95 land near exact percentiles; (b) merging
    stored daily samples over a span gives EXACTLY the direct
    computation on the span's raw rows (deterministic row sample is
    closed under union)."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sketches import (
        daily_value_samples,
        span_quantiles,
        threshold_quantiles,
    )
    from dump1090_db_stream_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")

    est = {r["event_type"]: r for r in threshold_quantiles(
        ev, ["event_type"], "value", "event_id", qs=(0.5, 0.95), rate=4,
    ).collect()}
    # rank-based tolerance (value-based breaks on heavy tails): the
    # sampled p50 must land within the exact [p35, p65] band, p95
    # within [p85, p99.5]
    exact = {r["event_type"]: r for r in ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.35)").alias("lo50"),
        F.expr("percentile(value, 0.65)").alias("hi50"),
        F.expr("percentile(value, 0.85)").alias("lo95"),
        F.expr("percentile(value, 0.995)").alias("hi95")).collect()}
    for et, e in exact.items():
        assert e["lo50"] <= est[et]["p50"] <= e["hi50"], et
        assert e["lo95"] <= est[et]["p95"] <= e["hi95"], et

    lo, hi = F.lit("2024-01-05").cast("date"), F.lit("2024-01-20").cast("date")
    stored = daily_value_samples(
        ev, "ts", ["event_type"], "value", "event_id", rate=4)
    merged = span_quantiles(
        stored.where((F.col("day") >= lo) & (F.col("day") < hi)),
        ["event_type"], qs=(0.5, 0.95))
    direct = threshold_quantiles(
        ev.where((F.to_date("ts") >= lo) & (F.to_date("ts") < hi)),
        ["event_type"], "value", "event_id", qs=(0.5, 0.95), rate=4)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_streaming_appended_sketch_store_matches_batch(spark, tmp_path):
    """The mergeable tier maintained FROM A STREAM, append-only: each
    micro-batch appends its own day-partial hash samples to the store
    (no upsert — sample union is idempotent); span estimates over the
    store equal the one-shot batch computation over all raw rows."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.sketches import (
        daily_hash_samples,
        span_estimate,
        threshold_distinct,
    )

    base = 1_700_000_000_000_000
    rows = [(base + (i % 40) * 3_600_000_000 * 24 // 10, "t%d" % (i % 3),
             i % 211) for i in range(2000)]
    d = tmp_path / "replay"
    d.mkdir()
    sch = pa.schema([("ts", pa.timestamp("us")), ("event_type", pa.string()),
                     ("user_id", pa.int64())])
    t0 = _time.time()
    for i, chunk in enumerate([rows[:700], rows[700:1400], rows[1400:]]):
        p = str(d / f"b{i}.parquet")
        pq.write_table(pa.table(
            {"ts": [r[0] for r in chunk],
             "event_type": [r[1] for r in chunk],
             "user_id": [r[2] for r in chunk]}, schema=sch), p)
        os.utime(p, (t0 + i, t0 + i))

    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("event_type", T.StringType()),
                           T.StructField("user_id", T.LongType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    store = str(tmp_path / "sketch_store")

    def sink(batch_df, _bid):
        (daily_hash_samples(batch_df, "ts", ["event_type"], "user_id",
                            rate=4)
         .write.mode("append").parquet(store))

    assert (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
            .awaitTermination(120)), "stream did not finish in 120 s"


    stored = spark.read.parquet(store)
    # 3 batches appended day-partials: duplicates per (day, type) exist
    assert stored.count() > stored.select("day", "event_type").distinct().count()

    batch_direct = spark.createDataFrame(
        [(__import__("datetime").datetime.fromtimestamp(
            r[0] / 1e6, __import__("datetime").timezone.utc),
          r[1], r[2]) for r in rows], schema)
    want = sorted(map(tuple, threshold_distinct(
        batch_direct, ["event_type"], "user_id", rate=4,
        est_col="est").drop("n").collect()))
    got_raw = sorted(map(tuple, span_estimate(
        stored, ["event_type"], rate=4, est_col="est").collect()))
    assert got_raw == want


def test_global_span_quantiles(spark, sf_dir):
    """keys=[] merges every stored sample into one global estimate —
    equal to the direct global computation over all raw rows."""
    from dump1090_db_stream_spark.operators.sketches import (
        daily_value_samples,
        span_quantiles,
        threshold_quantiles,
    )
    from dump1090_db_stream_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    stored = daily_value_samples(
        ev, "ts", ["event_type"], "value", "event_id", rate=4)
    glob = span_quantiles(stored, keys=[], qs=(0.5, 0.95)).first()
    direct = threshold_quantiles(
        ev.withColumn("g", F.lit(1)), ["g"], "value", "event_id",
        qs=(0.5, 0.95), rate=4).first()
    assert (glob["n_sampled"], glob["p50"], glob["p95"]) == \
        (direct["n_sampled"], direct["p50"], direct["p95"])

    # an empty store (fully filtered) still emits the one global row —
    # with NULL quantiles, not an element_at index error
    empty = span_quantiles(stored.where(F.lit(False)), keys=[],
                           qs=(0.5, 0.95)).first()
    assert empty["n_sampled"] == 0
    assert empty["p50"] is None and empty["p95"] is None


def test_trailing_estimate_matches_direct_window_estimate(spark):
    """Store-then-merge trailing estimate == direct raw-scan estimate
    per window (the losslessness contract), on a multi-day fixture."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import portable_hash
    from dump1090_db_stream_spark.operators.sketches import (
        sample_threshold,
        trailing_distinct_estimate,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(u, t0 + dt.timedelta(days=d, hours=1))
            for d in range(10) for u in range((d * 37) % 90 + 10)]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    rate = 2
    got = {r["day"]: r["est_active"] for r in
           trailing_distinct_estimate(df, "ts", "user_id",
                                      window_days=3, rate=rate).collect()}
    t = sample_threshold(rate)
    day = (F.unix_micros(F.col("ts")) / F.lit(86400 * 10**6)).cast("long")
    sampled = (df.select(F.col("user_id"), day.alias("d"))
               .filter(portable_hash("user_id") < t).distinct())
    for w_day, est in got.items():
        w = int(w_day.timestamp()) // 86400
        direct = (sampled.filter(F.col("d").between(w - 2, w))
                  .select("user_id").distinct().count()) * rate
        assert est == direct, w_day
    # estimate lands near truth on the densest window
    last = max(got)
    truth = (df.select("user_id",
                       day.alias("d"))
             .filter(F.col("d").between(int(last.timestamp()) // 86400 - 2,
                                        int(last.timestamp()) // 86400))
             .select("user_id").distinct().count())
    assert abs(got[last] - truth) / truth < 0.6


def test_trailing_estimate_from_streamed_store(spark, tmp_path):
    """The full streaming-WAU loop: micro-batches append day-partial
    hash samples (duplicates and all), and the trailing estimate read
    from the STORE equals the batch estimate over raw rows — trailing
    engagement metrics without rescanning raw events."""
    import datetime as dt
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.sketches import (
        daily_hash_samples,
        trailing_distinct_estimate,
        trailing_estimate_from_samples,
    )

    base = 1_700_006_400_000_000  # midnight-aligned + offset
    rows = [(base + (i % 6) * 86_400_000_000 + (i % 7) * 3_600_000_000,
             i % 97) for i in range(1200)]
    d = tmp_path / "replay"
    d.mkdir()
    sch = pa.schema([("ts", pa.timestamp("us")), ("user_id", pa.int64())])
    t0 = _time.time()
    for i, chunk in enumerate([rows[:500], rows[500:]]):
        p = str(d / f"b{i}.parquet")
        pq.write_table(pa.table(
            {"ts": [r[0] for r in chunk],
             "user_id": [r[1] for r in chunk]}, schema=sch), p)
        os.utime(p, (t0 + i, t0 + i))

    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("user_id", T.LongType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    store = str(tmp_path / "wau_store")

    def sink(batch_df, _bid):
        (daily_hash_samples(batch_df, "ts", [], "user_id", rate=2)
         .write.mode("append").parquet(store))

    assert (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
            .awaitTermination(120)), "stream did not finish in 120 s"


    got = sorted(map(tuple, trailing_estimate_from_samples(
        spark.read.parquet(store), window_days=3, rate=2).collect()))
    batch_direct = spark.createDataFrame(
        [(dt.datetime.fromtimestamp(r[0] / 1e6, dt.timezone.utc), r[1])
         for r in rows],
        schema)
    want = sorted(map(tuple, trailing_distinct_estimate(
        batch_direct, "ts", "user_id", window_days=3, rate=2).collect()))
    assert got == want and len(got) == 6


def test_sampled_item_counts_accuracy_on_heavy_items(spark, sf_dir):
    """Global per-event-type estimates (~2k true rows per type at
    sf0.01, rate=8 -> ~250 sampled) must land within the binomial
    error band; exact twin computed from the same relation."""
    from dump1090_db_stream_spark.operators.sketches import (
        sampled_item_counts,
    )
    from dump1090_db_stream_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type").count()
             .withColumnRenamed("count", "n").collect()}
    est = {r["event_type"]: r["est_count"] for r in
           sampled_item_counts(ev, "event_type", "event_id",
                               rate=8).collect()}
    assert set(est) == set(exact)
    for t, n in exact.items():
        # ~4 sigma of sqrt(rate/f): f~2000, rate 8 -> ~6% sigma
        assert abs(est[t] - n) <= 0.3 * n, (t, n, est[t])


def test_sampled_item_counts_layout_invariant_and_floor(spark):
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sketches import (
        sampled_item_counts,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("it"), (F.col("id") % 4)).alias("item"))
    a = {(r["item"], r["n_sampled"]) for r in
         sampled_item_counts(df, "item", "rid", rate=16).collect()}
    b = {(r["item"], r["n_sampled"]) for r in
         sampled_item_counts(df.repartition(17), "item", "rid",
                             rate=16).collect()}
    assert a == b and a
    # min_sampled drops the noise tail: a singleton item that happens
    # to be sampled reports n_sampled=1 and dies at floor 2
    df2 = df.union(spark.createDataFrame([(6, "rare")], ["rid", "item"]))
    got = sampled_item_counts(df2, "item", "rid", rate=1,
                              min_sampled=2).collect()
    assert "rare" not in {r["item"] for r in got}
    assert {r["item"] for r in got} == {"it0", "it1", "it2", "it3"}


def test_sampled_counts_streaming_additive_store_matches_batch(
        spark, tmp_path):
    """Frequency estimates are ADDITIVE (unlike distincts): per-batch
    sampled counts appended to a store sum to exactly the one-shot
    batch computation — so the heavy-hitter store is maintainable
    append-only from a Structured Streaming foreachBatch with a plain
    SUM compaction, no sketch-union machinery needed."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.sketches import (
        sampled_item_counts,
    )

    rows = [(i, "t%d" % (i % 3)) for i in range(3000)]
    d = tmp_path / "replay"
    d.mkdir()
    sch = pa.schema([("event_id", pa.int64()), ("event_type", pa.string())])
    t0 = _time.time()
    for i, chunk in enumerate([rows[:1000], rows[1000:2000], rows[2000:]]):
        p = str(d / f"b{i}.parquet")
        pq.write_table(pa.table(
            {"event_id": [r[0] for r in chunk],
             "event_type": [r[1] for r in chunk]}, schema=sch), p)
        os.utime(p, (t0 + i, t0 + i))

    schema = T.StructType([T.StructField("event_id", T.LongType()),
                           T.StructField("event_type", T.StringType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    store = str(tmp_path / "count_store")

    def sink(batch_df, _bid):
        (sampled_item_counts(batch_df, "event_type", "event_id", rate=8)
         .write.mode("append").parquet(store))

    assert (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
            .awaitTermination(120)), "stream did not finish in 120 s"

    stored = spark.read.parquet(store)
    assert stored.count() > 3  # per-batch partials exist
    compact = (stored.groupBy("event_type")
               .agg(F.sum("n_sampled").alias("n_sampled"),
                    F.sum("est_count").alias("est_count")))
    batch_direct = spark.createDataFrame(rows, schema)
    want = sorted(map(tuple, sampled_item_counts(
        batch_direct, "event_type", "event_id", rate=8).collect()))
    got = sorted(map(tuple, compact.collect()))
    assert got == want
