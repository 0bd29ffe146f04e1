"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry re-expresses an operator from SURVEY.md §2 on the
driver's synthetic tables (mapping per FIXTURES.md §C: the ADS-B fact table
maps onto ``events`` — hex_ident→user_id, callsign→event_type,
parsed_time→ts, lat/lon→value). ``oracle_sql()`` gives the DuckDB-checkable
equivalent. Column aliases match exactly on both sides (driver hashes
values under name-sorted columns).

Determinism rules used throughout:
- computed doubles are ``round``-ed identically on both sides (raw parquet
  doubles pass through bit-identical, no rounding needed);
- window orderings always carry a unique tiebreak column;
- no LIMIT without a total ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators import packing as _packing
from dump1090_db_stream_spark.operators import sampling as _sampling
from dump1090_db_stream_spark.operators.sessions import (
    band_join,
    daily_sessions,
    dedup_by_key,
)
from dump1090_db_stream_spark.sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- reference-parity queries (SURVEY.md §2) -------------------------------


def q_callsign_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-9 + A-1..A-4: the callsigns view (create_schema.sql:85-93) on
    events: per-day (user, event_type) sessions with first/last ts."""
    return daily_sessions(
        _events(spark, sf_dir), key="user_id", label="event_type", ts="ts"
    ).select("user_id", "event_type", "date_seen", "last_seen", "first_seen")


def q_locations_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-10 + F-11: the locations view (create_schema.sql:101-108) —
    narrow projection + NOT NULL predicate, pushed to the parquet scan."""
    return (
        _events(spark, sf_dir)
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("value").isNotNull())
    )


def q_flights_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-1 + A-5: the flights view (create_schema.sql:116-124) — equi key
    + ±10 min band residual + DISTINCT, on events vs its own sessions."""
    ev = _events(spark, sf_dir)
    fixes = ev.select("user_id", "ts", "value")
    sessions = daily_sessions(ev, key="user_id", label="event_type", ts="ts")
    return band_join(
        fixes, sessions, key="user_id", ts="ts",
        band="INTERVAL 10 MINUTES", session_cols=["event_type"],
    ).select("user_id", "ts", "value", "event_type")


def q_like_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-12: LIKE prefix predicate (README.md:212)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").like("AUTO%"))
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )


def q_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-13: equality predicate (README.md:237)."""
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


def q_time_range_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-14/C-3: time-range BETWEEN (README.md:262) with fixed bounds for
    oracle determinism (the reference's now()-relative variant is exposed
    as operators.adhoc.last_24h)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").between(
                F.lit("1996-01-01 00:00:00").cast("timestamp"),
                F.lit("1996-12-31 23:59:59").cast("timestamp"),
            )
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    )


def q_window_track_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-1..W-4: the PostGIS track-line query shape (README.md:266-273) —
    shared window spec, row_number + lead, post-window NOT NULL filter.
    event_id tiebreak makes lead() deterministic under ts ties."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .select(
            "user_id", "ts", "value",
            F.row_number().over(w).alias("rn"),
            F.lead("value").over(w).alias("next_value"),
            F.lead("ts").over(w).alias("next_ts"),
        )
        .filter(F.col("next_value").isNotNull())
    )


def q_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-6: PK-style dedup (create_schema.sql:132-133) on the analog key
    (event_type, ts, user_id), deterministic survivor via event_id."""
    return dedup_by_key(
        _events(spark, sf_dir),
        keys=["event_type", "ts", "user_id"],
        tiebreak=["event_id"],
    ).select("event_id", "ts", "user_id", "event_type", "value")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-1..A-4 at scale (TPC-H Q1 shape): multi-key hash agg with partial
    (map-side) aggregation; the shuffle carries only group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join + agg (TPC-H Q5 shape): small dims (nation, customer)
    broadcast; only lineitem⋈orders shuffles on the order key."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis (north-star): per-document token/char counts as
    native expressions — no UDF, fully codegen'd."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.length("text").alias("text_len"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )


def q_sbs1_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-1..F-8: the SBS-1 parser itself (functions.parser.parse_sbs1) on
    the reference README's golden wire lines (README.md:82-94), fixed
    parsed_time for determinism. The DuckDB oracle re-implements the
    width filter + ''->NULL + try_cast semantics in SQL over the same
    VALUES list."""
    from dump1090_db_stream_spark.functions.parser import parse_sbs1
    from tests.fixtures import SAMPLE_LINES

    lines = spark.createDataFrame([(line,) for line in SAMPLE_LINES], ["value"])
    return parse_sbs1(
        lines, parsed_time=F.lit("2020-01-01 00:00:00").cast("timestamp"))


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-1 + global sort: deterministic top-k (ORDER BY ... LIMIT) —
    the reference's LIMIT queries (README.md:184,:213,:238) made
    order-stable. Spark plans this as TakeOrderedAndProject: per-partition
    top-k then a k-row merge on the driver — no global sort shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-8: session windows with a 10-minute gap — the idiomatic Spark
    re-expression of the flights view's ±10 min band intent
    (create_schema.sql:124) via F.session_window. The oracle reproduces
    the islands with gaps-and-islands SQL (lag + cumulative sum)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events", "sum_value",
        )
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (events.props) + aggregation: get_json_object
    stays JVM-side; grouping on the extracted int."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (beyond the reference's surface; free on both
    engines): subtotals per returnflag and grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation with grouping_id (beyond the reference): all four
    grouping-set combinations of (status, priority) in ONE pass — Spark
    plans Expand + a single hash aggregate, not four scans. Sums run in
    decimal so subtotal/grand-total rows are bit-identical across
    partition orders."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
                     .cast("double"), 4).alias("total_price"),
             F.grouping_id().cast("long").alias("gid"))
    )


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (completing the rollup/cube family): revenue by
    (linestatus), by (returnflag), and grand total — arbitrary set lists
    that neither ROLLUP nor CUBE express, in ONE Expand pass."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT l_linestatus, l_returnflag, count(*) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_stat,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_ret
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_linestatus), (l_returnflag), ())
    """)


def q_window_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic-window family beyond the reference's
    row_number/lead (SURVEY.md §2.5 'absent' list): lag, rank, dense_rank,
    ntile, and running sum/count over an explicit ROWS UNBOUNDED PRECEDING
    frame. One window spec -> ONE shuffle; the running sum accumulates in
    decimal so the result is order-of-accumulation independent."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _events(spark, sf_dir).select(
        "user_id", "event_id", "ts",
        F.lag("value").over(w).alias("prev_value"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.sum(F.col("value").cast("decimal(28,8)")).over(wrun)
                .cast("double"), 6).alias("running_sum"),
        F.count(F.lit(1)).over(wrun).alias("running_n"),
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (absent in the reference, native here): customers
    with no orders since 2001, rolled up per nation. The anti join runs
    on the c_custkey equi key (broadcast or shuffled-hash under AQE) with
    the date filter pushed below it; nation is broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.sum(F.col("c_acctbal").cast("decimal(28,4)"))
                     .cast("double"), 4).alias("total_acctbal"))
    )


def q_segment_order_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers that placed at least one order, counted
    per market segment. Semi joins never duplicate the probe side, so the
    count is per-customer regardless of order fan-out."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active_customers"))
    )


def q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + aggregation: per-customer order counts INCLUDING
    zero-order customers (count of the nullable key, ANSI semantics)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_full_outer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (completing the §2.3 join-type family): negative-
    balance customers vs their open ('O') orders — each side has rows
    the other lacks, so both null-extension directions are exercised.
    COALESCE picks the surviving key; counts use ANSI null-skipping."""
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_acctbal") < 0)
         .select("c_custkey", "c_acctbal"))
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderstatus") == "O")
         .select("o_custkey", "o_orderkey", "o_totalprice"))
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return (
        j.groupBy(F.coalesce(F.col("c_custkey"), F.col("o_custkey"))
                  .alias("custkey"))
        .agg(F.max("c_acctbal").alias("acctbal"),
             F.count("o_orderkey").alias("n_open_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("open_total"))
    )


def q_set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.7 — absent in the reference, native in Spark):
    user segments via EXCEPT / INTERSECT over distinct user sets."""
    ev = _events(spark, sf_dir)
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    click_only = clickers.exceptAll(buyers).select(
        F.lit("click_only").alias("segment"), "user_id")
    both = clickers.intersect(buyers).select(
        F.lit("both").alias("segment"), "user_id")
    return click_only.union(both)


def q_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (operators.similarity.
    exact_cosine_pairs) — the oracle-checked correctness baseline for the
    LSH scale path (embedding_neardup_pairs). Threshold 0.35 chosen so the
    random testdata yields a non-trivial pair set."""
    from dump1090_db_stream_spark.operators.similarity import exact_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return exact_cosine_pairs(emb, threshold=0.35)


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection via the LSH SCALE PATH
    (operators.similarity.embedding_neardup_pairs) — hyperplane-signature
    bucketing, never an all-pairs join. Fixture: embeddings unioned with a
    deterministically perturbed copy (+0.05 on element 0, cosine ~0.9987),
    so the oracle is the brute-force pair set at the same threshold and a
    green row proves the bucketing loses no qualifying pair. The O(n^2)
    exact_cosine_pairs is thereby demoted to validator status."""
    from dump1090_db_stream_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, (x.cast("double") + 0.05)
                                .cast("float")).otherwise(x),
        ).alias("embedding"))
    # 10 planes x 8 tables: for a cosine-0.9987 pair p = 1-acos(c)/pi
    # ~ 0.984, miss prob = (1-p^10)^8 ~ 2.6e-7 per pair (verified: all
    # 500 fixture pairs found). 10 planes = 1024 buckets/table keeps
    # candidate volume near the true-pair count as the corpus grows;
    # the 10x6 default missed 1 fixture pair, 6x8 found all but
    # collided 16x more candidates at sf0.1.
    return embedding_neardup_pairs(emb.union(pert), dim=64, threshold=0.99,
                                   n_planes=10, n_tables=8)


def q_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (operators.similarity.
    embedding_cross_neardup): corpus x benchmark cosine near-dups via
    cross-relation hyperplane bucketing — the semantic complement of the
    lexical benchmark_decontamination query (paraphrases share no
    n-grams but sit at cosine ~0.99). Fixture benchmark: every 10th
    embedding perturbed (+0.03 on element 0), so the brute-force-cross-
    join oracle proves the bucketing loses no qualifying pair. The
    benchmark side is broadcast; the corpus never shuffles."""
    from dump1090_db_stream_spark.operators.similarity import (
        embedding_cross_neardup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, (x.cast("double") + 0.03)
                                .cast("float")).otherwise(x),
        ).alias("embedding"))
    return embedding_cross_neardup(
        emb, bench, dim=64, threshold=0.99, n_planes=10, n_tables=8)


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (operators.similarity.ivf_topk) with a FIXED coarse
    quantizer: the 8 centroids are the embeddings of vec_id 10..17 (a
    deterministic pre-built index, the persisted-index reuse path), so
    assignment + probe + rank is closed-form and the DuckDB oracle
    replays it exactly — a full hash-checked row. The k-means training
    path stays covered by test_ivf_topk_full_probe_equals_brute_force."""
    from dump1090_db_stream_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 18))
                 .orderBy("vec_id").select("embedding").collect())
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk(emb, queries, dim=64, k=10, n_probes=4,
                    centroids=centroids)


def q_embedding_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with a TRAINED coarse quantizer (operators.similarity
    kmeans_centroids_portable + ivf_topk): 2 Lloyd iterations over a
    64-vector md5-ranked sample, 8 centroids, cosine assignment. The
    portable trainer folds every sum left-to-right (the same IEEE
    sequence as SQL list_sum), so the DuckDB oracle replays the WHOLE
    pipeline — sampling, both Lloyd iterations, corpus assignment,
    probing, ranking — closed-form and the rows hash-match bit-exactly.
    This puts the k-means training path itself under the driver gate
    (q_embedding_ivf_topk covers the fixed/persisted-quantizer path)."""
    from dump1090_db_stream_spark.operators.similarity import (
        ivf_topk, kmeans_centroids_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_centroids_portable(
        emb, dim=64, n_centroids=8, n_iters=2, train_sample=64)
    queries = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk(emb, queries, dim=64, k=10, n_probes=3,
                    centroids=centroids)


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH (operators.similarity.
    lsh_topk): deterministic seeded hyperplanes, bucket-collision
    candidates only. Oracle-checked: the hyperplanes are closed-form
    doubles, so the DuckDB oracle embeds them as literals and replays
    signatures -> collisions -> cosine re-rank exactly (the exact-recall
    baseline remains embedding_topk)."""
    from dump1090_db_stream_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsh_topk(emb, queries, dim=64, k=10, n_planes=8, n_tables=6)


def q_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact statistics per event type: row count, distinct
    users, mean/median/stddev of value. Exercises COUNT(DISTINCT)
    (expand-based two-phase agg), exact percentile, and sample stddev —
    all JVM-native, partial-aggregated where the function allows."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        F.round(F.stddev("value"), 6).alias("stddev_value"),
    )


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per user, one column per event type with that
    type's event count. Spark plans pivot as a single conditional
    aggregation (no per-column scans); the oracle is the equivalent
    FILTER aggregation."""
    ev = _events(spark, sf_dir)
    types = ["click", "view", "purchase", "signup"]
    out = (ev.groupBy("user_id")
           .pivot("event_type", types)
           .agg(F.count(F.lit(1))))
    # pivot leaves NULL for absent combos; normalize to 0 for the oracle
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types])


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.sessions.asof_join): each event picks up the
    user's latest purchase value at-or-before its timestamp — the
    point-in-time lookup, via the union+window single-shuffle plan.
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from dump1090_db_stream_spark.operators.sessions import asof_join

    ev = _events(spark, sf_dir)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("p_ts"),
                         F.col("value").alias("p_value")))
    left = ev.select("user_id", "ts", "event_type")
    return asof_join(left, purchases, key="user_id",
                     left_ts="ts", right_ts="p_ts",
                     right_cols=["p_value"])


def q_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED STATEFUL STREAMING: streaming.stateful.
    session_flights (applyInPandasWithState, event-time timeouts) over the
    events table replayed as a 3-file stream (maxFilesPerTrigger=1, so the
    watermark advances batch-by-batch). Output = gap-closed (2 h) sessions
    per user; the operator is micro-batch-boundary independent, so it
    matches the batch islands-and-gaps SQL with a final-watermark cutoff.

    The driver-side toPandas/split here is TEST PLUMBING to author a
    deterministic replay — the operator itself holds O(1) state per key
    and never collects (see streaming/stateful.py docstring for the
    100 TB design)."""
    import os
    import tempfile
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.streaming.stateful import session_flights

    pdf = (load_table(spark, sf_dir, "events")
           .select("user_id", "ts").orderBy("ts").toPandas())
    d = tempfile.mkdtemp(prefix="stateful_replay_")
    n, t0 = len(pdf), _time.time()
    cut = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        path = os.path.join(d, f"b{i}.parquet")
        tbl = pa.Table.from_pandas(
            pdf.iloc[cut[i]:cut[i + 1]], preserve_index=False)
        tbl = tbl.cast(pa.schema([("user_id", pa.int64()),
                                  ("ts", pa.timestamp("us"))]))
        pq.write_table(tbl, path)
        os.utime(path, (t0 + i, t0 + i))
    schema = T.StructType([T.StructField("user_id", T.LongType()),
                           T.StructField("ts", T.TimestampType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    sessions = session_flights(stream, key_col="user_id", ts_col="ts",
                               gap_seconds=7200)
    name = "stateful_sessions_sink"
    q = (sessions.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED STREAMING WINDOWS (T-8/T-9): watermarked 1-hour
    tumbling-window counts + decimal sums per event_type
    (streaming.pipeline.tumbling_counts) over the events table replayed
    as a 3-file stream. Append mode emits a window exactly once, when the
    watermark passes its end — so the finalized output equals the batch
    GROUP BY date_trunc('hour') restricted to windows whose end <=
    final watermark (max ts - 30 min); the oracle applies that cutoff.

    The toPandas/split below is TEST PLUMBING to author a deterministic
    replay; the operator itself is a plain streaming aggregation with
    state bounded by the watermark horizon."""
    import os
    import tempfile
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.streaming.pipeline import tumbling_counts

    pdf = (load_table(spark, sf_dir, "events")
           .select("ts", "event_type", "value").orderBy("ts").toPandas())
    d = tempfile.mkdtemp(prefix="window_replay_")
    n, t0 = len(pdf), _time.time()
    cut = [0, n // 3, 2 * n // 3, n]
    sch = pa.schema([("ts", pa.timestamp("us")), ("event_type", pa.string()),
                     ("value", pa.float64())])
    for i in range(3):
        path = os.path.join(d, f"b{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[cut[i]:cut[i + 1]],
                                 preserve_index=False).cast(sch), path)
        os.utime(path, (t0 + i, t0 + i))
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("event_type", T.StringType()),
                           T.StructField("value", T.DoubleType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = tumbling_counts(stream, "ts", "event_type", window="1 hour",
                          watermark="30 minutes", value_col="value")
    name = "streaming_window_counts_sink"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


# --- north-star extensions (training-data pipeline ops) --------------------


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (operators.text.quality_features): char/token/punct/
    upper/stopword signals + composite score, all native expressions."""
    from dump1090_db_stream_spark.operators.text import quality_features

    return quality_features(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).drop("text")


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (operators.text.lang_id) rolled up to
    (predicted_lang, n_docs)."""
    from dump1090_db_stream_spark.operators.text import lang_id

    return (
        lang_id(load_table(spark, sf_dir, "documents"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (operators.text.doc_fingerprint): min-md5
    over word trigram shingles — portable 1-permutation MinHash."""
    from dump1090_db_stream_spark.operators.text import (
        doc_fingerprint,
        with_tokens,
    )

    return with_tokens(load_table(spark, sf_dir, "documents")).select(
        "doc_id", doc_fingerprint(F.col("_toks"), 3).alias("fingerprint"))


def q_exact_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (operators.dedup.exact_dup_groups) on documents unioned
    with a shifted copy of itself (testdata has no natural exact dups, so
    the dup groups are constructed deterministically)."""
    from dump1090_db_stream_spark.operators.dedup import exact_dup_groups

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.union(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    return exact_dup_groups(doubled)


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join
    (operators.dedup.ngram_jaccard_pairs) — no cross join, shingle-keyed."""
    from dump1090_db_stream_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.03)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (operators.similarity):
    5 query vectors against the corpus, k=10, deterministic tiebreak."""
    from dump1090_db_stream_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return brute_force_topk(emb, queries, k=10)


def q_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (operators.dedup.minhash_lsh_pairs),
    exact-Jaccard verified. The contract variant runs with
    ``portable_base_hash=True`` (md5-derived 60-bit shingle hash), which
    makes the ENTIRE pipeline — signatures, band buckets, candidate
    pairs, verification — reproducible in DuckDB, so the oracle replays
    it end-to-end and the row is hash-checked. Production default stays
    on xxhash64 (covered by tests/test_dedup.py)."""
    from dump1090_db_stream_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=16, bands=8, threshold=0.03, portable_base_hash=True)


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (operators.dedup.simhash_neardup_pairs)
    with ``portable_base_hash=True``: bit votes over the md5-derived
    60-bit shingle hash are plain conditional sums, so DuckDB replays
    votes -> simhash -> pigeonhole chunks -> hamming verify exactly and
    the row is hash-checked. Production default stays on xxhash64."""
    from dump1090_db_stream_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=12, n=2,
        portable_base_hash=True)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (operators.multimodal): documents' text bytes
    stand in for media payloads; Arrow-batched mapInPandas extracts
    deterministic stub features. Oracle-checked: the stub features are
    closed-form byte arithmetic (len, len-mod dims, mean of first 256
    byte values), and the corpus is ASCII, so DuckDB reproduces them
    exactly with length()/ascii() — proving the Arrow round-trip through
    Python preserves ids, batch boundaries, and per-row arithmetic."""
    from dump1090_db_stream_spark.operators.multimodal import (
        extract_image_features,
    )

    media = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    return extract_image_features(media, feature_dim=16).select(
        "media_id", "n_bytes", "width", "height",
        F.round("mean_luma", 6).alias("mean_luma"))


def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition profile (operators.cleaning.
    repetition_stats): per-doc 2-gram totals, distinct count, top-gram
    share, duplicate mass. Two map-side-combined aggregations, the same
    O(tokens) shuffle shape as MinHash signatures."""
    from dump1090_db_stream_spark.operators.cleaning import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"), n=2)


def q_mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture downsampling (operators.sampling.
    mixture_sample): four sources at distinct target rates, the rest at
    a 10% floor. Hash-based keep decision -> exact, rerun-stable,
    shuffle-free; the oracle reproduces the identical kept set."""
    from dump1090_db_stream_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(
        docs, MIXTURE_WEIGHTS, default_weight=0.1, seed=1,
    ).select("doc_id", "source")


def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators.cleaning.scrub_pii / count_*): the corpus
    carries no PII, so each doc gets a deterministic synthetic email+URL
    appended, then the operator must count and redact exactly. Stateless
    projection — no shuffle."""
    from dump1090_db_stream_spark.operators.cleaning import (
        count_emails,
        count_urls,
        scrub_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@example.com or http://ex.com/p/"), F.col("doc_id"))
    return docs.select(
        "doc_id",
        count_emails(payload).alias("n_emails"),
        count_urls(payload).alias("n_urls"),
        scrub_pii(payload).alias("scrubbed"),
    )


def q_doc_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (operators.cleaning.normalize_text) over a
    deliberately messy fixture (upper-cased, padded, tab-ridden copy of
    each doc) — the canonicalization step before exact dedup."""
    from dump1090_db_stream_spark.operators.cleaning import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    messy = F.concat(F.lit("  "), F.upper(F.col("text")), F.lit("\t x\t "))
    return docs.select("doc_id", normalize_text(messy).alias("normalized"))


#: Mixture rates for q_mixture_sample_docs — module-level so the oracle
#: SQL builder and the Spark query share one definition.
MIXTURE_WEIGHTS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring index (operators.relevance.tfidf_terms), reduced
    to each doc's top-3 terms by (tfidf, term) for a bounded contract
    result. Two map-side-combined aggregations; df/N broadcast back."""
    from dump1090_db_stream_spark.operators.relevance import tfidf_terms

    t = tfidf_terms(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (t.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "term", "tf", "df", "idf", "tfidf", "rk"))


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scores (operators.relevance.bm25_scores) for a
    fixed 4-term query over the corpus — inverted-index semi-join, never
    a corpus cross join."""
    from dump1090_db_stream_spark.operators.relevance import bm25_scores

    return bm25_scores(load_table(spark, sf_dir, "documents"),
                       query_terms=BM25_QUERY)


#: Fixed query bag for q_bm25_scores (shared with the oracle SQL).
BM25_QUERY = ["spark", "query", "shuffle", "window"]


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff (operators.versioning.corpus_diff): the
    "new" snapshot deterministically removes doc_id%10==7, appends
    ' v2' to doc_id%10==3, and adds fresh ids — the operator must
    classify every id exactly. Digest-only full-outer join: bodies
    never shuffle."""
    from dump1090_db_stream_spark.operators.versioning import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    new = (docs.filter(F.col("doc_id") % 10 != 7)
           .select("doc_id",
                   F.when(F.col("doc_id") % 10 == 3,
                          F.concat(F.col("text"), F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text"))
           .union(docs.filter(F.col("doc_id") < 20)
                  .select((F.col("doc_id") + 500000).alias("doc_id"),
                          "text")))
    return corpus_diff(docs, new)


def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.dedup.cross_ngram_overlap):
    the "benchmark set" is the first 12 tokens of three fixed documents,
    so contamination is planted and the operator must flag exactly the
    (train doc, benchmark) pairs sharing >= 2 trigrams. The ref side is
    broadcast; the corpus is never shuffled."""
    from dump1090_db_stream_spark.operators.dedup import cross_ngram_overlap

    docs = load_table(spark, sf_dir, "documents")
    refs = (docs.filter(F.col("doc_id").isin(3, 47, 90))
            .select(F.col("doc_id").alias("ref_id"),
                    F.concat_ws(" ", F.slice(
                        F.split(F.trim(F.col("text")), r"\s+"),
                        1, 12)).alias("text")))
    return cross_ngram_overlap(docs, refs, n=2, min_common=3)


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering (operators.graph): n-gram-Jaccard near-dup
    PAIRS -> connected components (min-label propagation, the
    MapReduce-style iterative DataFrame algorithm) -> per-doc canonical
    id over the whole corpus. Oracle: DuckDB recursive CTE computing
    min reachable id over the identical pair graph — so the iterative
    Spark algorithm is value-checked against a closed-form transitive
    closure."""
    from dump1090_db_stream_spark.operators.dedup import ngram_jaccard_pairs
    from dump1090_db_stream_spark.operators.graph import canonical_map

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.03)
    return canonical_map(docs, pairs)


def q_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as neardup_clusters, computed by the
    O(log n)-round large-star/small-star contraction
    (operators.graph.connected_components_star) instead of min-label
    propagation — the chain-safe variant for 100 TB corpora. Identical
    oracle (closed-form transitive closure), so the driver hash-checks
    that BOTH algorithms produce the same canonical map."""
    from dump1090_db_stream_spark.operators.dedup import ngram_jaccard_pairs
    from dump1090_db_stream_spark.operators.graph import canonical_map

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.03)
    return canonical_map(docs, pairs, algorithm="star")


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators.packing.chunk_documents):
    32-token windows, 8-token overlap, one row per chunk. Pure Column
    expressions (sequence -> posexplode -> slice), no Python, no
    shuffle."""
    from dump1090_db_stream_spark.operators.packing import chunk_documents

    return chunk_documents(load_table(spark, sf_dir, "documents"),
                           chunk_tokens=32, overlap=8)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators.packing.pack_sequences): documents
    fill ~2048-char training bins via bucketed greedy running-sum
    packing (hash-ordered, deterministic under any cluster layout; one
    window shuffle). Weight column: n_chars."""
    from dump1090_db_stream_spark.operators.packing import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"),
                          token_budget=2048, n_buckets=16,
                          n_tokens_col="n_chars")


def q_hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators.sampling.hash_split):
    per-(split, lang) document counts + char totals. The split is a
    narrow, shuffle-free projection from an engine-portable id hash, so
    the DuckDB oracle reproduces the exact assignment (rand()-based
    splits could never be oracle-checked or survive a repartition)."""
    from dump1090_db_stream_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row weighted keep (operators.sampling.weighted_sample): keep
    probability derived per-document (here (n_chars mod 100)/100 as a
    stand-in quality score). Deterministic hash decision, shuffle-free;
    the oracle applies the identical predicate."""
    from dump1090_db_stream_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "keep_p", (F.col("n_chars") % 100) / F.lit(100.0))
    return weighted_sample(docs, "keep_p", "doc_id", seed=9).select(
        "doc_id", "source", "keep_p")


def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global N-sample (operators.sampling.uniform_sample):
    rank by (seeded hash, id), keep 100. Plans as TakeOrderedAndProject
    (per-partition top-N merge), never a global sort."""
    from dump1090_db_stream_spark.operators.sampling import uniform_sample

    docs = load_table(spark, sf_dir, "documents")
    return uniform_sample(docs, 100, "doc_id", seed=5).select(
        "doc_id", "lang", "source")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators.sampling
    .stratified_cap): at most 3 docs per (lang, source) stratum, selected
    by portable-hash rank. One shuffle on the strata keys; output bounded
    at strata x cap regardless of input size."""
    from dump1090_db_stream_spark.operators.sampling import stratified_cap

    docs = load_table(spark, sf_dir, "documents")
    return stratified_cap(
        docs, strata=["lang", "source"], n_per_stratum=3,
        id_col="doc_id", keep_rank=True,
    ).select("lang", "source", "doc_id", "rk")


def q_time_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (operators.rollup
    .time_rollup): minute/hour/day count+sum+min/max per event_type, the
    coarser levels re-aggregated from the minute level so raw data is
    scanned once for the whole hierarchy. Decimal sums make the derived
    levels bit-identical to direct aggregation — which is exactly what
    the oracle (three direct GROUP BYs) verifies."""
    from dump1090_db_stream_spark.operators.rollup import time_rollup

    return time_rollup(
        _events(spark, sf_dir), ts="ts", keys=["event_type"], value="value",
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery re-expressed Spark-first (TPC-H Q17
    shape, beyond the reference): revenue from lineitems whose quantity
    is below 20% of the per-part average, grouped by brand. The
    correlated ``avg`` becomes a pre-aggregation joined back on
    l_partkey — one pass over lineitem for the agg, one for the probe,
    no per-row subquery execution. The threshold compare
    (qty < 0.2 * avg) is cross-multiplied to qty * 5 * cnt < sum_qty over
    exact BIGINT (quantities are integral), so both engines agree
    bit-for-bit with no decimal-width or float-order concerns."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("_sumq"))
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("l_quantity").cast("long") * 5 * F.col("_cnt")
                < F.col("_sumq"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,4)"))
                     .cast("double"), 4).alias("low_qty_revenue"))
    )


def q_event_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch approximations (operators.sketches.approx_group_stats):
    HLL++ distinct users + approximate median per event type — constant
    state per group vs the O(distinct) exact path. The raw estimates
    are sketch-implementation-specific (no engine-neutral oracle), so
    the contract emitted here is the PROPERTY the sketches document
    (r10 verdict ask #3): the same query computes the exact distinct
    count and exact percentile band, and outputs booleans asserting the
    HLL estimate lands within 3x its configured rsd (0.01 -> 3%) and
    the approx median within the exact [p45, p55] value band (rank
    error 1/accuracy = 1e-4, band 500x that — holds under ANY summary
    merge order). The oracle reproduces the exact columns and emits
    literal TRUE for the bands, so a band violation is a DRIVER HASH
    MISMATCH, not an unverifiable rows-only pass."""
    from dump1090_db_stream_spark.operators.sketches import (
        approx_group_stats,
    )

    ev = _events(spark, sf_dir)
    approx = approx_group_stats(
        ev, keys=["event_type"], distinct_col="user_id",
        value_col="value")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"),
        F.expr("percentile(value, 0.45)").alias("_p45"),
        F.expr("percentile(value, 0.55)").alias("_p55"))
    return (approx.join(exact, "event_type")
            .select(
                "event_type", "n", "exact_distinct",
                (F.abs(F.col("approx_distinct")
                       - F.col("exact_distinct"))
                 <= 0.03 * F.col("exact_distinct"))
                .alias("distinct_within_band"),
                F.col("approx_median").between(
                    F.col("_p45"), F.col("_p55"))
                .alias("median_within_band")))


def q_daily_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (operators.sketches): per-day DataSketches
    HLL sketches of user_id, then a union per event_type — distinct
    counts over arbitrary spans from stored sketch bytes, never a raw
    rescan (the continuous-aggregate pattern for a non-decomposable
    aggregate). The union estimate is sketch-implementation-specific,
    so the contract emitted is the documented PROPERTY (r10 verdict
    ask #3): lg_k=12 -> ~1.6% standard error; the same query computes
    the exact distinct count from the raw rows and outputs a boolean
    asserting the merged-sketch estimate lands within 3 standard
    errors (5%). The oracle reproduces the exact column and emits
    literal TRUE, so a band violation hash-mismatches at the driver.
    Merge-losslessness stays asserted in tests/test_sketches.py."""
    from dump1090_db_stream_spark.operators.sketches import (
        daily_sketches,
        union_estimate,
    )

    ev = _events(spark, sf_dir)
    sk = daily_sketches(ev, ts="ts",
                        keys=["event_type"], distinct_col="user_id")
    est = union_estimate(sk, keys=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    return (est.join(exact, "event_type")
            .select(
                "event_type", "exact_distinct",
                (F.abs(F.col("distinct_estimate")
                       - F.col("exact_distinct"))
                 <= 0.05 * F.col("exact_distinct"))
                .alias("estimate_within_band")))


def q_event_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED approximate distinct (operators.sketches.
    threshold_distinct): hash-threshold sampling over the portable
    BIGINT hash — keep distinct hashes below MODULUS/rate, scale by
    rate. The closed-form arithmetic makes the ESTIMATE itself (not
    just row counts) bit-reproducible in DuckDB, so this is the
    oracle-checked face of the approx-distinct capability; the HLL
    tiers (event_approx_stats / daily_distinct_rollup) stay as the
    engine-default rows-only variants. Shuffle carries ~distinct/rate
    sampled hashes per group, never the full key set."""
    from dump1090_db_stream_spark.operators.sketches import (
        threshold_distinct,
    )

    return threshold_distinct(
        _events(spark, sf_dir), keys=["event_type"],
        distinct_col="user_id", rate=4, est_col="est_distinct_users",
    )


def q_daily_portable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED mergeable-sketch rollup (operators.sketches.
    daily_hash_samples + span_estimate): per-day sorted arrays of
    sampled user-id hashes (the SQL-readable analogue of stored HLL
    bytes), filtered to a 15-day span and merged per event_type by
    set-union. The oracle computes the estimate DIRECTLY from the raw
    rows of the same span — equality proves the store-then-merge path
    is lossless, i.e. arbitrary span estimates never need a raw
    rescan."""
    from dump1090_db_stream_spark.operators.sketches import (
        daily_hash_samples,
        span_estimate,
    )

    sk = daily_hash_samples(_events(spark, sf_dir), ts="ts",
                            keys=["event_type"], distinct_col="user_id",
                            rate=4)
    sk = sk.where((F.col("day") >= F.lit("2024-01-05").cast("date"))
                  & (F.col("day") < F.lit("2024-01-20").cast("date")))
    return span_estimate(sk, keys=["event_type"], rate=4,
                         est_col="est_distinct_users")


_GEO_CENTERS = [(1, 22.2, 102.5), (2, 45.3, -125.4), (3, -29.7, 9.6),
                (4, -69.07, -96.07)]


def q_points_in_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed radius join (operators.geo.radius_join) — the
    PostGIS within-distance query (README.md:255-263's geo surface)
    re-expressed as a cell equi-join + haversine residual, never a cross
    product. Points are a deterministic arithmetic scatter derived from
    event_id (identical double ops on both engines); the oracle is the
    brute-force cross join, proving the cell cover loses no pairs."""
    from dump1090_db_stream_spark.operators.geo import radius_join

    pts = _events(spark, sf_dir).select(
        "event_id",
        (((F.col("event_id") * 7919) % 14000) / 100.0 - 70.0).alias("lat"),
        (((F.col("event_id") * 104729) % 34000) / 100.0 - 170.0).alias("lon"),
    )
    centers = spark.createDataFrame(_GEO_CENTERS,
                                    ["center_id", "clat", "clon"])
    return radius_join(
        pts, centers, 200.0, center_lat="clat", center_lon="clon",
    ).select("event_id", "center_id",
             F.round("distance_km", 2).alias("distance_km"))


def q_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable sampled quantiles (operators.sketches.
    threshold_quantiles): per-event-type p50/p95 of value from a
    deterministic 1/4 row sample — the filter precedes the shuffle, the
    discrete quantile is an actual data value, and the oracle replays
    the whole computation closed-form."""
    from dump1090_db_stream_spark.operators.sketches import (
        threshold_quantiles,
    )

    return threshold_quantiles(
        _events(spark, sf_dir), keys=["event_type"], value_col="value",
        id_col="event_id", qs=(0.5, 0.95), rate=4)


def q_daily_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup (operators.sketches.daily_value_samples
    + span_quantiles): per-day sorted value-sample arrays, 15-day span
    merged per event_type. The oracle computes the same quantiles
    DIRECTLY from the span's raw rows — equality proves store-then-merge
    loses nothing, i.e. p95-over-any-span needs no raw rescan."""
    from dump1090_db_stream_spark.operators.sketches import (
        daily_value_samples,
        span_quantiles,
    )

    sk = daily_value_samples(
        _events(spark, sf_dir), ts="ts", keys=["event_type"],
        value_col="value", id_col="event_id", rate=4)
    sk = sk.where((F.col("day") >= F.lit("2024-01-05").cast("date"))
                  & (F.col("day") < F.lit("2024-01-20").cast("date")))
    return span_quantiles(sk, keys=["event_type"], qs=(0.5, 0.95))


def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (operators.text.char_entropy):
    per-doc Shannon entropy in bits over characters — low = templated/
    repetitive, high = noise. Two map-side-combined shuffles; the
    join-free identity H = log2(n) - sum(c*log2 c)/n replays exactly in
    the DuckDB oracle."""
    from dump1090_db_stream_spark.operators.text import char_entropy

    return char_entropy(load_table(spark, sf_dir, "documents"))


def q_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dedup pass a pipeline actually runs
    (operators.graph.dedup_survivors): n-gram-Jaccard pairs -> star
    connected components -> keep one canonical doc per cluster plus all
    singletons, surviving rows with all columns. The corpus-side filter
    is a LEFT SEMI join on ids (no corpus columns shuffle). Oracle:
    transitive closure + keep-iff-min in closed form."""
    from dump1090_db_stream_spark.operators.dedup import ngram_jaccard_pairs
    from dump1090_db_stream_spark.operators.graph import dedup_survivors

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.03)
    return dedup_survivors(docs, pairs).select(
        "doc_id", "lang", "source", "n_chars")


def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate mining (operators.dedup.
    boilerplate_shingles): word 3-grams appearing in >= 4 distinct
    documents with their document frequency — template/nav-text
    detection for corpus hygiene. One map-side-combined shuffle."""
    from dump1090_db_stream_spark.operators.dedup import boilerplate_shingles

    return boilerplate_shingles(
        load_table(spark, sf_dir, "documents"), n=3, min_df=4)


def q_doc_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate score (operators.dedup.
    doc_boilerplate_share): share of each doc's distinct 3-gram shingles
    that are corpus-level boilerplate (df >= 4). The shingle relation is
    materialized once; the (small) boilerplate set broadcasts back."""
    from dump1090_db_stream_spark.operators.dedup import doc_boilerplate_share

    return doc_boilerplate_share(
        load_table(spark, sf_dir, "documents"), n=3, min_df=4)


#: dump1090 /data/aircraft.json snapshot fixture: two valid snapshots
#: (full rows, sparse rows, lowercase hex, padded callsign, a stale
#: aircraft, an entry with no hex) plus one malformed document.
_AIRCRAFT_SNAPSHOTS = [
    '{"now": 1700000000.5, "messages": 1042, "aircraft": ['
    '{"hex": "4ca4e5", "flight": "RJA1118 ", "lat": 31.2, "lon": 35.1,'
    ' "altitude": 37000, "vert_rate": -64, "track": 112, "speed": 480,'
    ' "seen": 0.1, "rssi": -21.5, "squawk": "2236"},'
    '{"hex": "405637", "seen": 95.0},'
    '{"flight": "GHOST", "seen": 1.0}]}',
    '{"now": 1700000030.0, "messages": 1100, "aircraft": ['
    '{"hex": "ab12cd", "flight": "BAW123", "lat": 51.47, "lon": -0.45,'
    ' "altitude": 1200, "vert_rate": 832, "track": 270, "speed": 160,'
    ' "seen": 0.4, "rssi": -18.0, "squawk": "7700"},'
    '{"hex": "4CA2D6", "seen": 2.0, "speed": 320}]}',
    'this is not json at all',
]


def q_aircraft_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dump1090 ecosystem's OTHER wire format: /data/aircraft.json
    HTTP snapshots (sources.aircraft_json.parse_aircraft_json) — one
    from_json with an explicit schema, explode of the aircraft array,
    typed projection, staleness filter (seen <= 60 s). Malformed
    documents and hex-less entries drop, mirroring the SBS-1 width
    filter. The oracle replays it with DuckDB's JSON functions over the
    same document strings."""
    from dump1090_db_stream_spark.sources.aircraft_json import (
        parse_aircraft_json,
    )

    raw = spark.createDataFrame(
        [(doc,) for doc in _AIRCRAFT_SNAPSHOTS], ["value"])
    return parse_aircraft_json(raw, max_seen_s=60.0)


def _aircraft_json_oracle() -> str:
    values = ",\n                ".join(
        "('" + doc.replace("'", "''") + "')" for doc in _AIRCRAFT_SNAPSHOTS)
    return f"""
            WITH raw(value) AS (VALUES
                {values}
            ), ac AS (
                SELECT json_extract(value, '$.now')::DOUBLE AS now_,
                       unnest(json_extract(value, '$.aircraft')::JSON[]) AS a
                FROM raw WHERE json_valid(value)
            )
            SELECT CAST(to_timestamp(now_) AS TIMESTAMP) AS snapshot_time,
                   upper(json_extract_string(a, '$.hex')) AS hex_ident,
                   trim(json_extract_string(a, '$.flight')) AS callsign,
                   json_extract(a, '$.altitude')::INTEGER AS altitude,
                   json_extract(a, '$.speed')::INTEGER AS ground_speed,
                   json_extract(a, '$.track')::INTEGER AS track,
                   json_extract(a, '$.lat')::FLOAT AS lat,
                   json_extract(a, '$.lon')::FLOAT AS lon,
                   json_extract(a, '$.vert_rate')::FLOAT AS vertical_rate,
                   json_extract_string(a, '$.squawk') AS squawk,
                   json_extract(a, '$.seen')::DOUBLE AS seen,
                   json_extract(a, '$.rssi')::DOUBLE AS rssi
            FROM ac
            WHERE json_extract_string(a, '$.hex') IS NOT NULL
              AND json_extract(a, '$.seen')::DOUBLE <= 60.0
        """


def _reject_fixture_lines() -> list[str]:
    """Golden wire lines plus crafted rejects: a garbage line (width),
    and an MSG line with a blanked hex_ident (not_null). The golden set
    already contains the width-rejected short forms and the
    decimal-ground_speed strict case (MSG,4)."""
    from tests.fixtures import SAMPLE_LINES

    msg = next(ln for ln in SAMPLE_LINES if len(ln.split(",")) == 22)
    no_hex = msg.split(",")
    no_hex[4] = ""
    return list(SAMPLE_LINES) + ["garbage,line", ",".join(no_hex)]


def q_sbs1_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter channel contract (functions.parser.parse_sbs1_tagged,
    strict mode): every wire line returns exactly once with its
    reject_reason — malformed_width / strict_integer / not_null / NULL
    (accepted). The oracle replays the width, regex-guarded int, and
    NOT-NULL checks in SQL over the same VALUES list."""
    from dump1090_db_stream_spark.functions.parser import parse_sbs1_tagged

    lines = spark.createDataFrame(
        [(line,) for line in _reject_fixture_lines()], ["value"])
    return parse_sbs1_tagged(
        lines, parsed_time=F.lit("2020-01-01 00:00:00").cast("timestamp"),
        strict_integer_rows=True,
    ).select("raw_value", "message_type", "transmission_type",
             "reject_reason")


def q_track_lines_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-1/G-2 WKT interop: per-user track as ST_AsText(ST_MakeLine(...))
    text plus the start point as ST_AsText(point) — the PostGIS track
    query's WIRE FORMAT (README.md:266-273), so output round-trips into
    PostGIS/GEOS/shapely tooling without Sedona. Coordinates derive from
    event_id by the same arithmetic scatter as points_in_radius; fixes
    sort by (ts, event_id) inside ONE collect_list agg (single shuffle),
    string building is pure Column ops (operators.geo.st_astext_line)."""
    from dump1090_db_stream_spark.operators.geo import (
        st_astext_line, st_astext_point,
    )

    pts = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        (((F.col("event_id") * 104729) % 34000) / 100.0 - 170.0).alias("lon"),
        (((F.col("event_id") * 7919) % 14000) / 100.0 - 70.0).alias("lat"),
    )
    agg = pts.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "lon", "lat"))
        ).alias("pts"),
    )
    line_pts = F.transform(
        "pts", lambda p: F.struct(p["lon"].alias("x"), p["lat"].alias("y")))
    return agg.select(
        "user_id",
        F.size("pts").cast("long").alias("n_points"),
        st_astext_point(line_pts[0]).alias("start_wkt"),
        st_astext_line(line_pts).alias("track_wkt"),
    )


def q_track_lines_wkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-1/G-2 BINARY interop: the same per-user tracks as
    q_track_lines_wkt, emitted as OGC WKB bytes (operators.geo
    st_asbinary_point/line — closed-form IEEE-754 recomposition, pure
    Column arithmetic, zero Python). Output carries lowercase hex of the
    bytes so the DuckDB oracle can replay the byte layout bit-exactly
    (sign/exponent/mantissa arithmetic — no spatial extension needed);
    consumers unhex straight into ST_GeomFromWKB/shapely/GDAL."""
    from dump1090_db_stream_spark.operators.geo import (
        st_asbinary_line, st_asbinary_point,
    )

    pts = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        (((F.col("event_id") * 104729) % 34000) / 100.0 - 170.0).alias("lon"),
        (((F.col("event_id") * 7919) % 14000) / 100.0 - 70.0).alias("lat"),
    )
    agg = pts.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "lon", "lat"))
        ).alias("pts"),
    )
    line_pts = F.transform(
        "pts", lambda p: F.struct(p["lon"].alias("x"), p["lat"].alias("y")))
    return agg.select(
        "user_id",
        F.size("pts").cast("long").alias("n_points"),
        F.lower(F.hex(st_asbinary_point(line_pts[0]))).alias("start_wkb"),
        F.lower(F.hex(st_asbinary_line(line_pts))).alias("track_wkb"),
    )


def q_tolerant_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode per-row tolerance: the try_* family (try_divide /
    try_add / try_to_timestamp) yields NULL where plain operators THROW
    under Spark 4's default ANSI semantics (division by zero, bigint
    overflow, malformed timestamp). The derived inputs guarantee every
    failure class actually occurs; the oracle replays each with
    closed-form CASE / TRY_CAST guards."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    denom = F.col("user_id") % 3
    day = F.lpad((F.col("user_id") % 40).cast("string"), 2, "0")
    return ev.select(
        "event_id",
        F.round(F.try_divide(F.col("value"), denom), 6).alias("safe_div"),
        F.try_add(F.lit(9223372036854775807), F.col("event_id"))
         .alias("safe_add"),
        F.try_to_timestamp(F.concat(F.lit("2024-01-"), day))
         .alias("safe_ts"),
    )


def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt via the native DataFrame.unpivot (Spark's wide-to-
    long reshape — an Expand node, one scan, no join): lineitem's four
    numeric measures as (keys, metric, value) rows. The oracle is the
    portable UNION ALL expansion of the same reshape."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric", "value")


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): per-key
    aggregates of two event slices joined so the NULL key groups match
    each other (a plain equi-join silently drops them — the classic
    dropped-rows bug in key-bucketed reconciliations). Key = NULLIF of
    a derived bucket, so NULL groups genuinely exist on both sides."""
    ev = _events(spark, sf_dir)
    key = F.nullif(F.col("user_id") % 7, F.lit(0))
    a = (ev.filter(F.col("event_type") != "error")
         .groupBy(key.alias("k"))
         .agg(F.count(F.lit(1)).alias("n_ok"),
              F.round(F.sum("value"), 2).alias("sum_ok")))
    b = (ev.filter(F.col("event_type") == "error")
         .groupBy(key.alias("k"))
         .agg(F.count(F.lit(1)).alias("n_err")))
    return (a.join(b, a["k"].eqNullSafe(b["k"]), "inner")
            .select(a["k"].alias("k"), "n_ok", "sum_ok", "n_err"))


def q_order_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family breadth: ntile(4) quartiles,
    percent_rank, and cume_dist over order value within each order
    priority. The window orders by (o_totalprice, o_orderkey) — the
    unique tie-break that makes ntile deterministic across engines
    (ntile over ties is otherwise order-dependent)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration (operators.graph.triangles) over the n-gram
    near-dup pair graph — corroboration analysis: a pair inside a
    triangle is supported by two independent similarity paths, so
    triangle membership separates real clusters from chance collisions.
    Oriented two-join enumeration (each triangle exactly once, both
    joins equi on node ids); the oracle closes wedges over the SAME
    pair SQL the ngram_jaccard_dups oracle defines."""
    from dump1090_db_stream_spark.operators.dedup import ngram_jaccard_pairs
    from dump1090_db_stream_spark.operators.graph import triangles

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.03)
    return triangles(pairs)


def q_close_encounters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal proximity self-join (operators.geo.
    close_encounters): pairs of events from different users within
    2000 km AND 2 hours — the ADS-B loss-of-separation query
    (trajectory proximity), keyed on (time bucket, latitude-corrected
    antimeridian-WRAPPED grid cell), never a cross join. Positions are
    the deterministic event_id scatter shared with points_in_radius;
    the oracle is the brute-force time-banded self-join (453 pairs at
    sf0.01), so a green row proves the bucket/cover join loses no
    qualifying pair."""
    from dump1090_db_stream_spark.operators.geo import close_encounters

    pts = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        (((F.col("event_id") * 7919) % 14000) / 100.0 - 70.0).alias("lat"),
        (((F.col("event_id") * 104729) % 34000) / 100.0 - 170.0).alias("lon"),
    )
    return close_encounters(pts, dist_km=2000.0, window_seconds=7200)


def q_cluster_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level corpus curation (operators.similarity
    kmeans_centroids_portable + assign_clusters): train the portable
    k-means quantizer, assign every embedding, join the documents table
    on id and profile each cluster's source mix and size stats. The
    oracle reuses the trained-IVF replay's training+assignment prefix
    (bit-identical centroids) with a profile tail — so the clustering
    AND the join/rollup are hash-checked end to end."""
    from dump1090_db_stream_spark.operators.similarity import (
        assign_clusters, kmeans_centroids_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    centroids = kmeans_centroids_portable(
        emb, dim=64, n_centroids=8, n_iters=2, train_sample=64)
    assigned = assign_clusters(emb, centroids)
    return (
        assigned.join(docs, assigned.vec_id == docs.doc_id)
        .groupBy("cluster", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("n_chars"), 6).alias("avg_chars"))
    )


def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-quality signal (operators.relevance.unigram_logprob): mean
    unigram log-probability of each document under the corpus's own
    unigram distribution — the thresholdable CCNet-style gibberish
    filter. Vocabulary-sized joins only; U broadcast."""
    from dump1090_db_stream_spark.operators.relevance import unigram_logprob

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


def q_weighted_fixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling (operators.sampling.
    weighted_fixed_sample, Efraimidis-Spirakis A-Res): exactly 100
    documents drawn with inclusion odds proportional to n_chars, from
    the seeded portable hash — deterministic, layout-invariant, and
    replayed exactly by the oracle (same key, ordering, tie-break).
    Plans as TakeOrderedAndProject, never a global sort."""
    from dump1090_db_stream_spark.operators.sampling import (
        weighted_fixed_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weighted_fixed_sample(docs, 100, "n_chars", "doc_id", seed=11)


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (streaming.pipeline.stream_interval_join
    run in batch mode — same code path): every click within 30 minutes
    after a view by the same user, with the attribution delay. The
    two-sided time bound is what lets the STREAMING form expire join
    state; here the oracle replays it as a plain interval join."""
    from dump1090_db_stream_spark.streaming.pipeline import (
        stream_interval_join,
    )

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"),
        F.col("event_id").alias("vid"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"))
    return stream_interval_join(views, clicks, "user_id", "vts", "cts",
                                max_delay="30 minutes")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (operators.profiling.table_profile) of the
    orders table: per-column row/null/distinct counts and typed min/max
    — ONE scan, one aggregation row, narrow unpivot. The oracle is the
    per-column UNION ALL audit; numeric min/max stay DOUBLE and
    string/timestamp min/max stay strings, so no engine-specific number
    formatting enters the hash. distinct_mode="exact" is the contract
    tier (bit-exact counts for the oracle); the function DEFAULT is the
    Expand-free HLL tier — see q_table_profile_approx for the portable
    middle ground."""
    from dump1090_db_stream_spark.operators.profiling import table_profile

    return table_profile(load_table(spark, sf_dir, "orders"),
                         distinct_mode="exact")


def q_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale tier of the same profile, oracle-checked: n_distinct
    comes from PORTABLE threshold hash-sampling (operators.profiling
    distinct_mode="portable" — md5-derived hashes below MODULUS/rate,
    |sample| * rate), a regular aggregate with NO Expand node (plan-
    asserted in test_profiling), unlike N simultaneous COUNT(DISTINCT)s
    which multiply every row x(n_cols+1) pre-shuffle. rate=8 resolves
    the orders table's smallest cardinalities; the DuckDB oracle
    replays the canonicalization + hash + threshold closed-form, so the
    ESTIMATE itself is value-hash-checked — the engine-specific HLL
    tier (the function default) gets the same shape but no oracle."""
    from dump1090_db_stream_spark.operators.profiling import table_profile

    return table_profile(load_table(spark, sf_dir, "orders"),
                         distinct_mode="portable", rate=8)


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (operators.sampling.
    token_budget_sample): per source, hash-shuffle documents
    deterministically and keep the maximal prefix totalling <= 700
    whitespace tokens (roughly half of each source at sf0.01, so the
    budget cut is genuinely exercised) — the "N tokens per source" contract a training
    mixture is actually specified in (doc-count fractions are a proxy
    that 1000x length variance breaks). The oracle replays the seeded
    hash order and running sum closed-form; cum_tokens makes the
    prefix rule itself hash-checked, not just membership."""
    from dump1090_db_stream_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_sample(
        docs, budget_tokens=700, keys=["source"], seed=7,
    ).select("source", "doc_id", "n_tokens", "cum_tokens")


def q_sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level gap sessionization (operators.sessions.sessionize):
    every event labeled with its 1-based per-user session id, new
    session after a > 30-minute silence — the row-preserving member of
    the session family (session_windows AGGREGATES one row per
    session; this labels events for downstream per-session funnels/
    paths/runs). One Exchange + one sort (flag window and running sum
    share the spec); the oracle replays the lag/gap/cumsum
    gaps-and-islands closed-form on microsecond arithmetic."""
    from dump1090_db_stream_spark.operators.sessions import sessionize

    ev = _events(spark, sf_dir)
    return sessionize(ev, "user_id", "ts", gap_seconds=1800,
                      tie_col="event_id").select(
        "event_id", "user_id", "ts", "event_type", "session_id")


def q_logprob_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet/Gopher perplexity-style quality filter as a PIPELINE
    composition of two oracled primitives: score every document with
    its mean unigram log-probability (operators.relevance.
    unigram_logprob), estimate the corpus's 25th percentile from a
    deterministic 1/4 row sample (operators.sketches.
    threshold_quantiles — a portable discrete quantile, so the cutoff
    is an actual data value both engines agree on exactly), and keep
    documents at or above it. The scored relation feeds both the
    cutoff estimate and the filter — materialized once (no cross-
    branch reuse in Catalyst); the cutoff is a one-row broadcast.
    Output carries the cutoff as an audit column."""
    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.relevance import unigram_logprob
    from dump1090_db_stream_spark.operators.sketches import (
        threshold_quantiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    lp = track(unigram_logprob(docs))
    cut = threshold_quantiles(lp, keys=[], value_col="logprob",
                              id_col="doc_id", qs=(0.25,), rate=4)
    return (
        lp.crossJoin(F.broadcast(cut.select(F.col("p25").alias("cutoff"))))
        .filter(F.col("logprob") >= F.col("cutoff"))
        .select("doc_id", "n_toks", "logprob", "cutoff")
    )


def q_sampled_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency estimation from a deterministic row sample
    (operators.sketches.sampled_item_counts — the COUNT analog of the
    portable distinct/quantile sketches, closing the frequency gap in
    the sketch family): per (day, event_type), rows whose
    portable_hash(event_id) lands under MODULUS/8 are counted and
    scaled x8. The exchange carries ~1/8 of the input after a narrow
    pre-shuffle filter; the DuckDB oracle replays the hash, threshold,
    and scaling closed-form, so the ESTIMATES are value-hash-checked.
    Accuracy vs exact counts is asserted separately in
    test_sketches.py (heavy items only — that asymmetry is the
    estimator's contract)."""
    from dump1090_db_stream_spark.operators.sketches import (
        sampled_item_counts,
    )

    ev = _events(spark, sf_dir).withColumn(
        "day", F.to_date(F.col("ts")))
    return sampled_item_counts(
        ev, item_cols="event_type", id_col="event_id",
        keys=["day"], rate=8)


def q_capped_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-key skew guard as a contract query (operators.sessions.
    cap_events_per_key): each user's FIRST 3 and LAST 2 events by
    (ts, event_id), tagged by mode — both cut directions driver-
    verified. Catalyst plans each cap as a map-side WindowGroupLimit,
    so even the shuffle carries <= max_rows rows per user; the oracle
    is the plain row_number replay of the same deterministic cut."""
    from dump1090_db_stream_spark.operators.sessions import (
        cap_events_per_key,
    )

    ev = _events(spark, sf_dir)
    cols = ["event_id", "user_id", "ts", "event_type"]
    first = cap_events_per_key(ev, "user_id", "ts", 3,
                               tie_col="event_id")
    last = cap_events_per_key(ev, "user_id", "ts", 2,
                              tie_col="event_id", keep="last")
    return (first.select(F.lit("first").alias("mode"), *cols)
            .unionAll(last.select(F.lit("last").alias("mode"), *cols)))


def q_corpus_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a snapshot transform (operators.versioning.
    merge_upsert): a deterministic change set updates doc_id%7==0
    (excluding the %13 deletes, which would be ambiguous), inserts
    copies of doc_id<15 under new ids, and tombstones doc_id%13==0.
    The oracle replays the full-outer-join MERGE in SQL; the result is
    the complete next snapshot, so every surviving row's content is
    hash-checked."""
    from dump1090_db_stream_spark.operators.versioning import merge_upsert

    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    updates = (docs.filter((F.col("doc_id") % 7 == 0)
                           & (F.col("doc_id") % 13 != 0))
               .select(F.col("doc_id"),
                       F.concat(F.col("text"), F.lit(" v2")).alias("text"),
                       "lang", "source", "n_chars",
                       F.lit(False).alias("deleted")))
    inserts = (docs.filter(F.col("doc_id") < 15)
               .select((F.col("doc_id") + 600000).alias("doc_id"),
                       "text", "lang", "source", "n_chars",
                       F.lit(False).alias("deleted")))
    deletes = (docs.filter(F.col("doc_id") % 13 == 0)
               .select(*cols, F.lit(True).alias("deleted")))
    changes = updates.unionByName(inserts).unionByName(deletes)
    return merge_upsert(docs, changes)


def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping event-time windows (operators.timeseries.
    sliding_window_agg): 10-minute windows sliding every 5, counts and
    value sums per (window, event_type). Every event lands in exactly
    width/slide = 2 windows; Spark plans ONE explode + hash aggregation,
    which the oracle replays by unnesting k in {0, 1} over floor-aligned
    epoch arithmetic."""
    from dump1090_db_stream_spark.operators.timeseries import (
        sliding_window_agg,
    )

    ev = _events(spark, sf_dir)
    return sliding_window_agg(
        ev, "ts", "10 minutes", "5 minutes", ["event_type"],
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def q_event_trailing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row trailing 1-hour features (operators.timeseries.
    trailing_range_stats): for every event, the count / sum / mean of
    the same user's events in [t - 1h, t]. The RANGE frame runs over
    epoch MICROSECONDS, so the oracle replays the frame with the same
    integer bounds — no interval-inclusivity ambiguity."""
    from dump1090_db_stream_spark.operators.timeseries import (
        trailing_range_stats,
    )

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    return trailing_range_stats(ev, "ts", "value", "user_id", 3600)


#: Funnel step list shared by q_funnel_conversions and its oracle SQL.
FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (operators.funnel.funnel_counts): users reaching
    view -> click -> purchase in strict event-time order. The greedy
    subsequence fold (F.aggregate over each user's sorted events) equals
    the classic min-chain semantics, which the oracle replays step by
    step (t1 = first view, t2 = first click after t1, ...). One shuffle
    on user_id; per-user state is one int."""
    from dump1090_db_stream_spark.operators.funnel import funnel_counts

    ev = _events(spark, sf_dir)
    return funnel_counts(ev, FUNNEL_STEPS)


def q_event_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection (operators.anomaly.mad_outliers): events
    whose |value - median| / MAD exceeds 3 within their event type.
    Medians are data values (or two-point midpoints), so the score is
    engine-reproducible without float-sum ordering sensitivity; the
    filter runs on the ROUNDED score in both engines."""
    from dump1090_db_stream_spark.operators.anomaly import mad_outliers

    ev = _events(spark, sf_dir).select(
        "event_id", "event_type", "value")
    return mad_outliers(ev, "value", ["event_type"], threshold=3.0)


def q_event_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric outlier detection (operators.anomaly.zscore_outliers):
    |v - mean| / stddev_samp > 2 within each event type. Group stats are
    one broadcast-back aggregation — the event relation itself is never
    shuffled."""
    from dump1090_db_stream_spark.operators.anomaly import zscore_outliers

    ev = _events(spark, sf_dir).select(
        "event_id", "event_type", "value")
    return zscore_outliers(ev, "value", ["event_type"], threshold=2.0)


def q_embedding_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (operators.similarity.quantize_embeddings)
    of every embedding, posexploded to one row per (vector, dimension)
    so the driver hash-checks EVERY quantized value and every scale
    bit-exactly (floor(x/scale + 0.5) is tie-free in both engines;
    float->double widening and amax/127 are identical IEEE ops)."""
    from dump1090_db_stream_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id", "scale",
        F.posexplode("qvec").alias("idx", "qval"),
    ).select("vec_id", F.col("idx").cast("int").alias("idx"),
             F.col("qval").cast("int").alias("qval"), "scale")


def q_embedding_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-quantized vectors (operators.similarity.
    quantized_topk): scale cancels out of cosine, so search runs on the
    raw int arrays — 1/4 the bytes of the float corpus. The oracle
    replays quantization + integer cosine + ranking closed-form; the
    exact-recall baseline is embedding_topk on the same query set."""
    from dump1090_db_stream_spark.operators.similarity import quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return quantized_topk(emb, queries, k=10)


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators.relevance.bigram_pmi): top-40
    adjacent-token pairs by pointwise mutual information, min_count=3.
    Bigrams are built narrow (zip_with over array slices), aggregated
    map-side, joined at vocabulary (not corpus) size; the top-40 plans
    as TakeOrderedAndProject (never a global sort), with the rank column
    added on the 40-row result. Ties are broken (pmi desc, w1, w2) on
    the ROUNDED pmi so both engines rank identically."""
    from dump1090_db_stream_spark.operators.relevance import bigram_pmi

    docs = load_table(spark, sf_dir, "documents")
    top = (bigram_pmi(docs, min_count=3)
           .orderBy(F.col("pmi").desc(), "w1", "w2")
           .limit(40))
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return top.withColumn("rk", F.row_number().over(w))


def q_fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string self-join (operators.fuzzy.edit_distance_join):
    every customer-name pair within edit distance 1, found via the
    DELETION-NEIGHBORHOOD blocking (method="deletions" — the SymSpell
    principle: ed(s,t)<=1 implies the <=1-deletion variant sets
    intersect), then JVM levenshtein verify — never an n^2 cross join.
    The DuckDB oracle IS the n^2 levenshtein cross join, so the driver
    hash-check proves the blocking loses no qualifying pair (same
    oracle pattern as the decontamination queries). Deletion blocking
    (r14 optimization) because zero-padded numeric names are the
    operator docstring's low-gram-diversity case: the q=3 prefix
    filter's measured candidate volume is 739x the input rows at
    sf0.1, while a shared deletion variant pins every other character
    position: measured 65x (977k candidates, 11x fewer, and the whole
    query 3.5x faster end to end)."""
    from dump1090_db_stream_spark.operators.fuzzy import edit_distance_join

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_join(cust, "c_custkey", "c_name", k=1,
                              method="deletions")


def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time grid + LOCF + linear interpolation (operators.
    timeseries.gap_fill — the TimescaleDB gapfill/locf/interpolate
    triple; the reference's views simply skip empty days,
    create_schema.sql:85-93). Hourly buckets per event_type: ~45 empty
    hours per type at sf0.01 exercise every fill path, including
    multi-bucket gaps. Buckets are integer epoch divisions and the
    interpolation runs in bucket-index space, so the oracle replays the
    grid (range + unnest) and both ignore-nulls frames bit-for-bit."""
    from dump1090_db_stream_spark.operators.timeseries import gap_fill

    ev = _events(spark, sf_dir)
    return gap_fill(ev, "ts", ["event_type"], "value", bucket_seconds=3600)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangular cohort retention (operators.journeys.cohort_retention):
    users grouped by first-event DAY (integer epoch // 86400 — no
    calendar folklore between engines; daily rather than weekly because
    the 30-day fixture span folds weekly cohorts into one degenerate
    row-set), then per-offset active counts. Cohort size re-derives from
    offset 0 (first-period activity is implied by membership), so the
    whole table costs two aggregate passes and one equi join."""
    from dump1090_db_stream_spark.operators.journeys import cohort_retention

    ev = _events(spark, sf_dir)
    return cohort_retention(ev, "user_id", "ts", period_seconds=86400)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix (operators.journeys.
    event_transitions): consecutive same-user event-type pairs via one
    lead() window (tie-broken on the unique event_id), counted and
    row-normalized. |types|^2 output rows; the probability denominator
    is a window sum over the aggregated pairs, not a second scan."""
    from dump1090_db_stream_spark.operators.journeys import event_transitions

    ev = _events(spark, sf_dir)
    return event_transitions(ev, "user_id", "ts", "event_type", "event_id")


def q_event_transitions_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order transitions (operators.journeys.event_transitions,
    order=2): after the state "view>click", what happens next — the
    n-gram deepening of the order-1 matrix. The oldest lag gates
    history completeness (each user's first event feeds no state); all
    lags + the lead share one window spec, one Exchange."""
    from dump1090_db_stream_spark.operators.journeys import event_transitions

    ev = _events(spark, sf_dir)
    return event_transitions(ev, "user_id", "ts", "event_type",
                             "event_id", order=2)


def q_event_type_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by argmax aggregates (beyond the reference's plain
    min/max, create_schema.sql:88-92): per event type, WHICH user/when
    produced the extreme value. Ties break on the unique event_id via
    struct ordering — Spark's max_by over a (value, event_id) struct;
    the oracle replays it as DuckDB max over a named struct (field-order
    lexicographic in both engines), since DuckDB's arg_max lacks
    composite tiebreaks."""
    ev = _events(spark, sf_dir)
    hi = F.struct(F.col("value"), F.col("event_id"))
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("value_min"),
            F.round(F.max("value"), 6).alias("value_max"),
            F.max_by("user_id", hi).alias("top_user"),
            F.max_by("ts", hi).alias("top_ts"),
            F.min_by("user_id", hi).alias("bottom_user"),
        )
    )


def q_value_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key equi-width histograms (operators.profiling.
    value_histogram): 12 bins of ``value`` per event type. Bin bounds
    come from exact per-key min/max (no float summation anywhere), and
    bin placement is the order-fixed IEEE sequence floor((v-lo)/(hi-lo)
    *12) clamped — bit-reproducible in any ANSI engine."""
    from dump1090_db_stream_spark.operators.profiling import value_histogram

    ev = _events(spark, sf_dir)
    return value_histogram(ev, "value", ["event_type"], n_bins=12)


def q_value_runs_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands / SCD type-2 coalescing (operators.sessions.
    value_runs): consecutive same-event_type rows per user become one
    half-open [valid_from, valid_to) validity interval, the current run
    open (NULL valid_to). One Exchange serves all three window passes;
    run boundaries tie-break on the unique event_id. The oracle replays
    the identical lag/cumsum/lead derivation."""
    from dump1090_db_stream_spark.operators.sessions import value_runs

    ev = _events(spark, sf_dir)
    return value_runs(ev, key="user_id", ts="ts", value="event_type",
                      tie_col="event_id")


def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct actives (operators.journeys.
    trailing_active_users — the WAU metric): activity deduped to
    (user, day), each day voting for the 7 window-end days it falls in
    via one sequence explode (Spark has no sliding count-distinct
    window; a per-day self-join would rescan activity 7x), clipped to
    the observed span."""
    from dump1090_db_stream_spark.operators.journeys import (
        trailing_active_users,
    )

    ev = _events(spark, sf_dir)
    return trailing_active_users(ev, "user_id", "ts", window_days=7)


def q_scd2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (the temporal-table primitive):
    every event enriched with the SCD2 run (operators.sessions.
    value_runs) valid AT its timestamp, via the SAME union+window
    asof_join that serves time-series lookups — one partition-key
    shuffle, no interval join. The oracle instead joins on interval
    CONTAINMENT (valid_from <= ts < valid_to, open current run), so a
    green hash PROVES backward-asof-on-valid_from == containment on
    well-formed (gapless, half-open) SCD2 chains. Deterministic
    because runs chain exactly and ties break on event_id upstream."""
    from dump1090_db_stream_spark.operators.sessions import (
        asof_join,
        value_runs,
    )

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type")
    runs = value_runs(ev, key="user_id", ts="ts", value="event_type",
                      tie_col="event_id").select(
        "user_id", F.col("valid_from"), F.col("event_type").alias("attr"),
        "run")
    return asof_join(ev, runs, key="user_id", left_ts="ts",
                     right_ts="valid_from", right_cols=["attr", "run"])


def q_weekly_active_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier WAU (operators.sketches.trailing_distinct_estimate):
    trailing 7-day distinct-user ESTIMATE from stored per-day portable
    hash samples (rate=4) — the constant-state companion to
    weekly_active_users. The deterministic hash-threshold sample makes
    the merged trailing estimate EQUAL the direct raw-scan estimate, so
    the oracle computes it straight from raw events and the driver
    hash-check proves the store-then-merge path lossless."""
    from dump1090_db_stream_spark.operators.sketches import (
        trailing_distinct_estimate,
    )

    ev = _events(spark, sf_dir)
    return trailing_distinct_estimate(ev, "ts", "user_id",
                                      window_days=7, rate=4)


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join + two-level conditional aggregation (TPC-H Q8
    shape) — the deepest relational plan in the registry: NATION_3
    suppliers' share of PROMO-part revenue sold to EUROPE customers,
    per order year. lineitem anchors; orders joins on the order key
    (the only big-side shuffle pair); customer/nation/region/supplier/
    part are all broadcast dims, so Catalyst's join reordering and
    broadcast selection carry the whole plan. The share divides two
    decimal-exact conditional sums and rounds last."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust_nation = (customer
                   .join(F.broadcast(nation),
                         F.col("c_nationkey") == F.col("n_nationkey"))
                   .join(F.broadcast(region),
                         F.col("n_regionkey") == F.col("r_regionkey"))
                   .filter(F.col("r_name") == "EUROPE")
                   .select("c_custkey"))
    supp_nation = (supplier
                   .join(F.broadcast(nation.select(
                       F.col("n_nationkey").alias("_snk"),
                       F.col("n_name").alias("supp_nation"))),
                       F.col("s_nationkey") == F.col("_snk"))
                   .select("s_suppkey", "supp_nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_nation),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part.filter(F.col("p_type") == "PROMO")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev).cast("double"), 2).alias("total_revenue"),
            # the two sums are decimal-exact; divide as DOUBLE so both
            # engines apply identical IEEE division instead of their
            # own decimal-quotient scale rules
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev)
                      .otherwise(F.lit(0).cast("decimal(28,8)")))
                .cast("double")
                / F.sum(rev).cast("double"), 6).alias("mkt_share"),
        )
    )


def q_winsorized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization (operators.anomaly.winsorize): every
    non-null event value clipped into its type's [p05, p95] band —
    outlier CAPPING next to the detection queries. Continuous
    percentiles are the proven-portable pair (Spark percentile ==
    DuckDB quantile_cont, same interpolation — event_stats' median is
    the precedent); the clip uses UNROUNDED bounds and rounds last."""
    from dump1090_db_stream_spark.operators.anomaly import winsorize

    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        "event_id", "event_type", "value")
    return winsorize(ev, "value", ["event_type"], lower=0.05, upper=0.95)


def q_weekly_active_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented trailing actives (operators.journeys.
    trailing_active_users with keys): per-event-type 7-day WAU, each
    segment with its own dense observed span. The oracle replays the
    per-segment span/vote/grid construction."""
    from dump1090_db_stream_spark.operators.journeys import (
        trailing_active_users,
    )

    ev = _events(spark, sf_dir)
    return trailing_active_users(ev, "user_id", "ts", window_days=7,
                                 keys=["event_type"])


def q_top_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence patterns (operators.journeys.top_paths): the ten most
    common first-3-event journeys, ranked (count desc, path asc). The
    per-user path is a slice of the same sorted struct array the funnel
    fold uses; ragged (short) users keep their shorter path. Top-k
    plans as TakeOrderedAndProject."""
    from dump1090_db_stream_spark.operators.journeys import top_paths

    ev = _events(spark, sf_dir)
    return top_paths(ev, n_steps=3, k=10)


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs join predicate (TPC-H Q19 shape; the reference's WHERE
    surface is conjunctive only, README.md:180-239): revenue from three
    disjoint brand/size/quantity bands, evaluated IN the join. Catalyst
    pushes the common l_quantity envelope below the join and keeps the
    per-brand conjuncts as the join residual; part stays broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    bands = (
        ((brand == "Brand#12") & q.between(1, 11) & (size <= 5))
        | ((brand == "Brand#23") & q.between(10, 20) & (size <= 10))
        | ((brand == "Brand#34") & q.between(20, 30) & (size <= 15))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(bands)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


def q_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-correlated EXISTS / NOT EXISTS (TPC-H Q21 shape): suppliers
    who were the ONLY late shipper in a multi-supplier order (late =
    shipped > 60 days after the order date). Spark-first re-expression:
    instead of two correlated self-joins (exists other-supplier item,
    not-exists other-supplier late item), conditional aggregation per
    order computes (distinct suppliers, distinct late suppliers, the
    late supplier id) and the exists/not-exists pair becomes the filter
    n_supp >= 2 AND n_late = 1 — one shuffle on the order key replaces
    three. Distinctness is staged: a (orderkey, suppkey) pre-aggregate
    (map-side combined) feeds plain count/sum per order, instead of the
    Expand-based plan two COUNT(DISTINCT CASE ...) in one aggregate
    would cost (x3 row multiplication before the shuffle; measured 1.9x
    slower at sf0.1). The oracle replays the equivalent single
    aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS")
    per_pair = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("_late"))
    )
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("_n_supp"),
            F.sum(F.col("_late").cast("int")).alias("_n_late"),
            F.min(F.when(F.col("_late"), F.col("l_suppkey")))
             .alias("_late_supp"),
        )
        .filter((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
    )
    return (
        per_order.groupBy("_late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier),
              F.col("_late_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count distribution with an ON-clause filter (TPC-H Q13
    shape): how many customers placed exactly k non-urgent orders,
    INCLUDING k=0. The filter must live in the JOIN condition, not a
    WHERE — a WHERE on the right side after a left join silently drops
    the zero-order customers the query exists to count. Two-level
    aggregation: per-customer counts (one shuffle on the join key,
    count(o_orderkey) ignores the null-extended rows), then the
    customer-count histogram (vocabulary-sized, map-side combined)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.select("o_custkey", "o_orderkey", "o_orderpriority"),
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-max subquery re-expression (TPC-H Q15 shape): the
    supplier(s) with the maximum 1996-Q1 revenue. Revenue is summed as
    DECIMAL(28,8) so the max-equality filter compares exact values —
    a double sum's partition-order nondeterminism could make two
    engines disagree about a near-tie argmax. The one-row max relation
    is broadcast back onto the |suppliers|-sized aggregate (never a
    global sort, never a single-partition window); the date filter
    prunes the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    per_supp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(F.sum(rev).alias("_rev"))
    )
    max_rev = per_supp.agg(F.max("_rev").alias("_max_rev"))
    return (
        per_supp.join(F.broadcast(max_rev),
                      F.col("_rev") == F.col("_max_rev"))
        .join(F.broadcast(supplier),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("_rev").cast("double"), 2).alias("total_revenue"),
        )
    )


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated-HAVING IN-subquery (TPC-H Q18 shape): orders whose
    total quantity exceeds 300, joined back to their customer. The
    subquery result (46 keys at sf0.01; rare by construction at any
    scale) is the BROADCAST side of both join-backs, so neither orders
    nor lineitem re-shuffles; sum(l_quantity) is grouped map-side
    before the one l_orderkey exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .filter(F.col("sum_qty") > 300))
    return (
        orders.join(F.broadcast(big),
                    F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-scalar-subquery threshold + NOT EXISTS (TPC-H Q22 shape):
    above-average-balance customers with no order since 2000-06-01,
    summarized per market segment. The positive-balance stats are a
    one-row aggregate broadcast as a crossJoin (documented one-row
    attach, the Q22 scalar subquery); the NOT EXISTS is a LEFT ANTI
    join against the date-pruned order keys. Customer is the only
    shuffled relation and only for the final vocabulary-sized
    segment rollup. The above-average test multiplies through by the
    count (bal * n > sum) with a DECIMAL-exact sum: a double avg() is
    partition-order noise at the last ulp, and a balance landing
    between two engines' noisy averages would flip the filter (the
    same failure class top_supplier_revenue's decimal sum guards
    against)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bal_stats = (customer.filter(F.col("c_acctbal") > 0)
                 .agg(F.sum(F.col("c_acctbal").cast("decimal(28,8)"))
                      .cast("double").alias("_sum_bal"),
                      F.count(F.lit(1)).alias("_n_bal")))
    recent = (orders
              .filter(F.col("o_orderdate")
                      >= F.lit("2000-06-01").cast("timestamp"))
              .select("o_custkey"))
    return (
        customer.crossJoin(F.broadcast(bal_stats))
        .filter(F.col("c_acctbal") * F.col("_n_bal") > F.col("_sum_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"),
              "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def q_cheapest_supplier_per_part(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Correlated-min subquery join-back (TPC-H Q2 shape, re-keyed to
    this schema: no partsupp table, so lineitem is the part-supplier
    cost relation): for each small part (p_size <= 2), the supplier
    with the minimum observed unit price. Spark-first re-expression:
    instead of a correlated `WHERE cost = (SELECT min(cost) ...)`
    rescan, ONE window pass (row_number over (part) ordered by rounded
    unit cost, then supplier key as the deterministic tiebreak) picks
    the argmin; Catalyst rewrites the rank filter into a map-side
    WindowGroupLimit so the exchange carries one candidate row per
    (part, task). The part filter is broadcast; unit cost divides as
    DOUBLE (identical IEEE semantics both engines) and rounds before
    ordering."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
    w = (Window.partitionBy("l_partkey")
         .orderBy("unit_cost", "l_suppkey"))
    return (
        li.join(F.broadcast(part.filter(F.col("p_size") <= 2)),
                F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "p_name", "l_suppkey",
                unit.alias("unit_cost"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(F.broadcast(supplier),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"), "p_name",
            F.col("s_suppkey").alias("cheapest_suppkey"),
            "s_name", "unit_cost",
        )
    )


def q_trade_volume_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-role dimension join with a disjunctive pair predicate
    (TPC-H Q7 shape): shipping volume between NATION_1 and NATION_2 in
    both directions, per ship year. The nation dimension joins TWICE
    under different roles (supplier side, customer side); both roles
    pre-filter to the two nations of interest BEFORE their joins, so
    the disjunctive cross-pair condition (supp <> cust) is a cheap
    residual instead of a post-join filter over the full fact. orders
    is the only big-side shuffle pair; supplier/customer/nation
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    supp_side = (supplier
                 .join(F.broadcast(
                     nation.filter(F.col("n_name").isin(pair)).select(
                         F.col("n_nationkey").alias("_snk"),
                         F.col("n_name").alias("supp_nation"))),
                     F.col("s_nationkey") == F.col("_snk"))
                 .select("s_suppkey", "supp_nation"))
    cust_side = (customer
                 .join(F.broadcast(
                     nation.filter(F.col("n_name").isin(pair)).select(
                         F.col("n_nationkey").alias("_cnk"),
                         F.col("n_name").alias("cust_nation"))),
                     F.col("c_nationkey") == F.col("_cnk"))
                 .select("c_custkey", "cust_nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    return (
        li.join(F.broadcast(supp_side),
                F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_side),
              F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        )
    )


def q_event_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics surface (the SQL-standard REGR_* family +
    corr/covar): per event type, how value co-moves with hour-of-day.
    All six aggregates are single-pass map-side-combined moments (one
    shuffle on the vocabulary-sized type key, O(1) state per group);
    x is a small-magnitude derived int so cross-engine float noise
    stays far below the shared 6-decimal rounding. Rows where either
    variable is NULL are excluded explicitly — Spark and DuckDB agree
    on pairwise deletion only when it's spelled out."""
    ev = _events(spark, sf_dir)
    x = F.hour("ts").cast("double")
    v = F.col("value")
    return (
        ev.filter(v.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr(v, x), 6).alias("corr_vh"),
            F.round(F.covar_samp(v, x), 6).alias("covar_vh"),
            F.round(F.regr_slope(v, x), 6).alias("slope"),
            F.round(F.regr_intercept(v, x), 6).alias("intercept"),
            F.round(F.regr_r2(v, x), 6).alias("r2"),
        )
    )


def q_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth (the WoW/MoM dashboard staple): weekly
    order revenue with previous-week delta and percent change. The
    week bucket is integer epoch-week arithmetic (engine-neutral;
    date_trunc('week') start-of-week conventions differ across
    engines/locales). Scale shape: the full-size relation reduces to
    O(weeks) rows in ONE map-side-combined aggregation FIRST; the
    unpartitioned lag window then runs over those ~350 aggregate rows
    (same bounded-relation contract as bigram_pmi's totals attach).
    Growth math runs on the ROUNDED revenue so both engines divide
    identical inputs."""
    from dump1090_db_stream_spark.operators.timeseries import epoch_bucket

    orders = load_table(spark, sf_dir, "orders")
    week = epoch_bucket(F.col("o_orderdate"), 7 * 86400)
    weekly = (orders.groupBy(week.alias("week_idx"))
              .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                   F.count(F.lit(1)).alias("n_orders")))
    w = Window.orderBy("week_idx")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week_idx", "n_orders", "revenue",
        F.round(prev, 2).alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("wow_growth"),
    )


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain funnel — the composition the row-preserving
    sessionizer exists for: label every event with its gap session
    (operators.sessions.sessionize, 30 min), then run the ordered
    view -> click -> purchase conversion fold PER SESSION rather than
    per user (operators.funnel.funnel_counts over the composite
    user#session key). Same two-shuffle budget as the user-grain
    funnel (sessionize's key window, the funnel's key groupBy — both
    hash the same user-dominated key); the oracle replays
    sessionization closed-form and chains per-session min-ts steps.
    Tie contract (same as funnel_conversions): the min-ts chain
    compares strictly on ts, matching the fold because per-user
    timestamps are unique in this dataset (operators.funnel docstring
    documents the (ts, tie_col) ordering for corpora with ties)."""
    from dump1090_db_stream_spark.operators.funnel import funnel_counts
    from dump1090_db_stream_spark.operators.sessions import sessionize

    ev = sessionize(_events(spark, sf_dir), "user_id", "ts",
                    gap_seconds=1800, tie_col="event_id")
    keyed = ev.withColumn(
        "_skey", F.concat_ws("#", F.col("user_id"), F.col("session_id")))
    return (funnel_counts(keyed, FUNNEL_STEPS, id_col="_skey")
            .withColumnRenamed("n_users", "n_sessions"))


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup with reconstruction (operators.cleaning.
    dedup_lines — the RefinedWeb/CCNet hygiene pass that strips
    cross-document boilerplate LINES and stitches the remainder back
    together byte-exactly). The synthetic corpus has no newlines, so
    the query PLANTS deterministic boilerplate around the real texts
    (header on 2/3 of docs, footer on 1/3 — same crafted-fixture
    pattern as pii_scrub_stats): both planted lines exceed max_df=50
    and are removed; every real text line is unique and survives. The
    oracle replays split -> doc-frequency -> filtered ordered
    string_agg, hash-checking the reconstructed text itself."""
    from dump1090_db_stream_spark.operators.cleaning import dedup_lines

    docs = load_table(spark, sf_dir, "documents")
    header = F.lit("NEWSLETTER SIGNUP")
    footer = F.lit("COPYRIGHT 2026 EXAMPLE CORP")
    nl = F.lit("\n")
    mutated = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(header, nl, F.col("text"), nl, footer))
         .when(F.col("doc_id") % 3 == 1,
               F.concat(header, nl, F.col("text")))
         .otherwise(F.col("text")).alias("text"),
    )
    return dedup_lines(mutated, max_df=50).select(
        "doc_id", "n_lines", "n_removed", "text")


def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap self-join (operators.timeseries.
    interval_overlap_pairs) over gap sessions: which sessions of
    DIFFERENT users ran concurrently (closed-interval overlap), with
    the overlap duration — the 1-D analog of close_encounters (bucket
    cover + later-start pair-once discipline + exact residual, never
    a cross product; same-user sessions can't overlap by the gap
    construction). The oracle replays sessionization closed-form and
    brute-forces the inequality self-join."""
    from dump1090_db_stream_spark.operators.sessions import sessionize
    from dump1090_db_stream_spark.operators.timeseries import (
        interval_overlap_pairs,
    )

    ev = sessionize(_events(spark, sf_dir), "user_id", "ts",
                    gap_seconds=1800, tie_col="event_id")
    sess = (ev.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("_st"), F.max("ts").alias("_en")))
    pairs = interval_overlap_pairs(
        sess, ["user_id", "session_id"], "_st", "_en",
        bucket_seconds=4 * 3600)
    return pairs.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("session_a"),
        F.col("_b_user_id").alias("user_b"),
        F.col("_b_session_id").alias("session_b"),
        "start_a", "end_a", "start_b", "end_b", "overlap_sec",
    )


def q_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection (operators.graph.
    best_survivors): n-gram-Jaccard pairs -> connected components ->
    keep each cluster's HIGHEST-quality_score doc (min id on ties)
    plus all singletons — the survivor policy real pipelines want
    (neardup_survivors' min-id keeps an arbitrary copy). Scores come
    from quality_features; the argmax runs on a narrow (id, canonical,
    score) relation as a map-side WindowGroupLimit; bodies never
    shuffle. Oracle: the neardup_clusters transitive closure spliced
    with the doc_quality replay and a QUALIFY argmax."""
    from dump1090_db_stream_spark.operators.dedup import ngram_jaccard_pairs
    from dump1090_db_stream_spark.operators.graph import best_survivors
    from dump1090_db_stream_spark.operators.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_features(docs.select("doc_id", "text"))
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.03)
    return best_survivors(scored, pairs, "q_quality_score").select(
        "canonical_id", "doc_id", "q_quality_score")


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way filtered join + top-k (TPC-H Q3 shape): unshipped
    BUILDING-segment revenue per order as of a date, top 10. Both
    date filters push to their scans; customer is broadcast; revenue
    sums DECIMAL-exact and the top-k ORDERS ON THE EXACT DECIMAL
    (rounding only for display) so near-ties can't reorder across
    engines; total order via the orderkey tiebreak plans
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(
            customer.filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("_rev"))
        .orderBy(F.col("_rev").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey",
                F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
                "o_orderdate", "o_orderpriority")
    )


def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue ranking (TPC-H Q10 shape): per-customer
    lost revenue from RETURNED lineitems against one order quarter,
    with the customer's nation, top 20. The quarter filter prunes the
    orders scan before its join; customer and nation broadcast onto
    the aggregated relation; ordering runs on the exact decimal with
    the customer key as total-order tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    per_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
            .select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("_rev"))
    )
    return (
        per_cust
        .join(F.broadcast(customer),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("_rev").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "c_acctbal",
                F.col("n_name").alias("nation"),
                F.round(F.col("_rev").cast("double"), 2)
                 .alias("lost_revenue"))
    )


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution as a cross-family composition: fuzzy-match
    blocking (operators.fuzzy.edit_distance_join, the oracle-proven
    lossless Ed-Join prefix filter) produces the match-pair graph,
    connected components (operators.graph.canonical_map) collapses
    transitive matches, and every customer maps to a canonical entity
    id — the classic dedupe-the-CRM pipeline, each stage individually
    oracle-proven and here hash-checked END TO END (the DuckDB oracle
    recomputes the n^2 levenshtein pairs and the recursive-CTE
    closure)."""
    from dump1090_db_stream_spark.operators.fuzzy import edit_distance_join
    from dump1090_db_stream_spark.operators.graph import canonical_map

    cust = load_table(spark, sf_dir, "customer")
    # deletion blocking (r14 optimization): same verified pair set as
    # the prefix path, 11x fewer candidates on these low-diversity
    # names — see q_fuzzy_name_matches
    pairs = edit_distance_join(cust, "c_custkey", "c_name", k=1,
                               method="deletions")
    return canonical_map(cust, pairs, id_col="c_custkey",
                         src_col="id1", dst_col="id2").select(
        F.col("c_custkey"), F.col("canonical_id").alias("entity_id"))


def q_quartile_stratified_sample(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Quality-quartile stratified sampling — the curation composition
    (score -> bucket -> cap): quality_features scores every doc, the
    corpus quartile cutoffs come from the portable DISCRETE-quantile
    sketch (threshold_quantiles, rate=4 — actual data values both
    engines agree on exactly), docs bucket by cutoff comparison
    (one-row broadcast attach), and stratified_cap keeps a
    deterministic hash-ranked 40 per quartile. The oracle replays
    scoring, sampling, cutoffs, bucketing, and ranking closed-form."""
    from dump1090_db_stream_spark.operators.sampling import stratified_cap
    from dump1090_db_stream_spark.operators.sketches import (
        threshold_quantiles,
    )
    from dump1090_db_stream_spark.operators.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_features(docs.select("doc_id", "text")).select(
        "doc_id", "q_quality_score")
    cuts = threshold_quantiles(scored, keys=[], value_col="q_quality_score",
                               id_col="doc_id", qs=(0.25, 0.5, 0.75),
                               rate=4)
    s = F.col("q_quality_score")
    bucketed = (
        scored.crossJoin(F.broadcast(cuts))
        .withColumn(
            "quartile",
            (F.lit(1) + (s > F.col("p25")).cast("int")
             + (s > F.col("p50")).cast("int")
             + (s > F.col("p75")).cast("int")))
    )
    return stratified_cap(
        bucketed, strata=["quartile"], n_per_stratum=40,
        id_col="doc_id", keep_rank=True,
    ).select("quartile", "doc_id", "q_quality_score", "rk")


def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/WAU ratio — the engagement-dashboard staple) as
    a composition of the trailing-actives operator at two windows.
    Scale discipline: raw events are scanned ONCE — the (user, day)
    dedup is materialized (cache.track barrier, Catalyst has no
    cross-branch reuse) and BOTH trailing_active_users calls run over
    it (their internal dedup is a no-op on the pre-deduped relation);
    the join runs on two dense O(days) grids. The ratio divides on a
    NULL guard (an empty trailing week implies an empty day, so
    0/0 emits NULL, not NaN — spelled identically in the oracle)."""
    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.journeys import (
        trailing_active_users,
    )
    from dump1090_db_stream_spark.operators.timeseries import epoch_bucket

    ev = _events(spark, sf_dir)
    act = track(
        ev.select(
            "user_id",
            F.timestamp_seconds(
                epoch_bucket(F.col("ts"), 86400) * 86400).alias("ts"))
        .distinct())
    dau = (trailing_active_users(act, "user_id", "ts", window_days=1,
                                 materialize=False)
           .withColumnRenamed("n_active", "n_dau"))
    wau = (trailing_active_users(act, "user_id", "ts", window_days=7,
                                 materialize=False)
           .withColumnRenamed("n_active", "n_wau"))
    return dau.join(wau, "day").select(
        "day", "n_dau", "n_wau",
        F.when(F.col("n_wau") > 0,
               F.round(F.col("n_dau").cast("double")
                       / F.col("n_wau").cast("double"), 6))
         .alias("stickiness"),
    )


def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators.similarity.pq_encode/
    pq_topk — Jegou et al.'s ADC search): the corpus compresses to m=8
    codes/vector against FIXED deterministic codebooks (closed-form
    integer-grid literals, the PQ analog of the LSH hyperplane
    literals, so the oracle embeds bit-identical doubles), each query
    precomputes its m x ksub distance table, and candidates rank by
    the ordered sum of table lookups. Every fold is index-ascending,
    so DuckDB's sequential list_sum replays the exact IEEE values —
    encode argmin, LUT, ADC, and rank all hash-match."""
    from dump1090_db_stream_spark.operators.similarity import (
        pq_codebooks_fixed,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    books = pq_codebooks_fixed(dim=64, m=8, ksub=16)
    return pq_topk(emb, queries, books, k=10)


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-nation join correlation (TPC-H Q5 shape): revenue where the
    CUSTOMER's nation equals the SUPPLIER's nation, per EUROPE nation,
    for one order year — the join whose defining predicate is an
    equality between two different dimension paths
    (c_nationkey = s_nationkey). Spark-first: the correlation rides
    the lineitem<->supplier broadcast join as a residual after the
    customer nation arrives through orders; region/nation prune the
    customer side before the fact joins; revenue sums DECIMAL-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = (customer
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .filter(F.col("r_name") == "EUROPE")
            .select("c_custkey", "c_nationkey", "n_name"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    return (
        li.join(orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
            .select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan banded filter aggregate (TPC-H Q6 shape): potential
    revenue increase from discount-band lineitems in one ship year.
    Every predicate pushes to the parquet scan (date range, discount
    band, quantity cap — the PushedFilters line carries all three);
    the aggregate is one map-side-combined row."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                          .cast("decimal(28,8)")).cast("double"), 2)
             .alias("lost_revenue"),
        )
    )


def q_duplicate_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (operators.dedup.duplicate_spans
    — the Lee et al. passage-level dedup signal the doc-level families
    can't see): maximal token intervals covered by 4-token shingles
    shared by >= 3 distinct docs. The oracle replays positional
    shingling, distinct-doc frequency, the cover join, and the
    gaps-and-islands interval merge closed-form — 1-based inclusive
    token indices on both sides."""
    from dump1090_db_stream_spark.operators.dedup import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, n=4, min_df=3)


def q_stripped_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strip half of exact substring dedup (operators.dedup.
    strip_duplicate_spans): every token covered by a 4-shingle shared
    by >= 3 docs is removed and the survivors re-joined — the corpus
    REWRITE the span detector's audit relation drives. The oracle
    replays hits -> covered-position set -> filtered ordered
    string_agg; the reconstructed text itself is hash-checked for all
    500 docs."""
    from dump1090_db_stream_spark.operators.dedup import (
        strip_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, n=4, min_df=3).select(
        "doc_id", "text", "n_tokens", "n_removed")


def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gating (operators.profiling.
    check_expectations — the Deequ/Great-Expectations primitive):
    six rules over events evaluated in ONE aggregation pass (null
    fraction, value bounds, accepted event types, event_id uniqueness,
    row-count floor), emitted as (rule, metric, threshold, passed)
    rows. The oracle recomputes every metric and verdict closed-form;
    the value-floor rule (threshold 1.0 vs observed min 0.01)
    genuinely FAILS, so both verdict branches are exercised."""
    from dump1090_db_stream_spark.operators.profiling import (
        check_expectations,
    )

    ev = _events(spark, sf_dir)
    return check_expectations(ev, [
        {"name": "value_not_null", "type": "not_null",
         "column": "value", "max_null_frac": 0.02},
        {"name": "value_min", "type": "min_value",
         "column": "value", "threshold": 1.0},
        {"name": "value_max", "type": "max_value",
         "column": "value", "threshold": 1000000.0},
        {"name": "known_types", "type": "accepted",
         "column": "event_type", "max_other_frac": 0.0,
         "values": ["view", "click", "purchase", "signup", "error"]},
        {"name": "event_id_unique", "type": "unique",
         "column": "event_id"},
        {"name": "enough_rows", "type": "row_count_min",
         "threshold": 1000},
    ])


def q_embedding_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (operators.similarity.
    project_embeddings): 64-dim embeddings compressed to 8 dims
    through the deterministic seeded-LCG plane matrix (the LSH
    hyperplane generator) and re-normalized — the
    dimensionality-reduction step before ANN indexing on wide
    vectors. Emitted long-format (vec_id, d, val) so the PROJECTED
    VALUES themselves hash-check; every component is an
    index-ascending dot fold the oracle replays with identical plane
    literals."""
    from dump1090_db_stream_spark.operators.similarity import (
        project_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    proj = project_embeddings(emb, out_dim=8, in_dim=64)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("d0", "_v")
    ).select(
        "vec_id", (F.col("d0") + 1).alias("d"),
        F.round("_v", 6).alias("val"),
    )


def _projection_oracle(out_dim: int = 8, in_dim: int = 64,
                       seed: int = 101) -> str:
    """Closed-form replay of the JL projection: identical plane
    literals, per-component index-ascending dot folds, guarded
    normalization, 1-based component index."""
    from dump1090_db_stream_spark.operators.similarity import (
        projection_planes,
    )

    planes = projection_planes(in_dim, out_dim, seed)
    rows = ",\n                ".join(
        f"({r + 1}, [{', '.join(repr(v) for v in p)}])"
        for r, p in enumerate(planes))
    return f"""
            WITH pl(d, p) AS (VALUES
                {rows}
            ), comp AS (
                SELECT e.vec_id, pl.d,
                       list_sum(list_transform(
                           range(1, {in_dim} + 1),
                           i -> e.embedding[i]::DOUBLE * p[i])) AS c
                FROM embeddings e CROSS JOIN pl
            ), nrm AS (
                -- d-ordered fold matches the Spark side's
                -- index-ascending aggregate exactly (a plain sum()
                -- adds in arbitrary order — last-ulp drift)
                SELECT vec_id, sqrt(list_sum(list(c * c ORDER BY d)))
                           AS n
                FROM comp GROUP BY vec_id
            )
            SELECT comp.vec_id, comp.d,
                   round(CASE WHEN nrm.n > 0 THEN comp.c / nrm.n
                              ELSE comp.c END, 6) AS val
            FROM comp JOIN nrm ON comp.vec_id = nrm.vec_id
        """


def q_temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (operators.sampling.
    temperature_sample, alpha = 0.5): per-source keep rates derived
    from observed counts so the sampled distribution follows
    n_s^alpha — the multilingual upweight-the-rare recipe with no
    hand-written weights. The fixture's sources are uniform (25 docs
    each — every rate would be 1.0), so the query derives a SKEWED
    70/20/10 domain key from doc_id (the crafted-input pattern
    line_dedup_docs uses) to make the recipe bite: the big domain
    keeps (7)^-0.5 ~ 38% of its rows, the rarest keeps all. The
    oracle recomputes counts, the (n/n_min)^(alpha-1) rates (rounded
    6 on both sides before thresholding), and the seeded-hash keep
    predicate closed-form."""
    from dump1090_db_stream_spark.operators.sampling import (
        temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 7, "big")
         .when(F.col("doc_id") % 10 < 9, "mid")
         .otherwise("rare").alias("domain"),
    )
    return temperature_sample(docs, alpha=0.5, source_col="domain",
                              seed=3).select(
        "doc_id", "domain", "keep_rate")


def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair sampling (operators.sampling.
    negative_pairs): 2 pseudo-random non-matching partners per
    document via bucket pairing — candidates meet anchors in a bucket
    EQUI-join (never a cross join) and each slot's winner is a
    closed-form hash argmin, so the pairing is exact under rerun and
    the oracle replays buckets, the join, and the argmin
    rank-for-rank."""
    from dump1090_db_stream_spark.operators.sampling import negative_pairs

    docs = load_table(spark, sf_dir, "documents")
    return negative_pairs(docs.select("doc_id"), k=2, n_buckets=32,
                          seed=7)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (operators.dedup.
    ngram_containment_pairs — |A∩B|/min(|A|,|B|), the Broder
    containment measure): catches a SHORT doc embedded in a LONG one,
    which Jaccard structurally cannot. The fixture plants 50 excerpt
    docs (the first 12 tokens of every doc_id % 10 == 0 document,
    replayed identically in SQL) whose containment in their source is
    exactly 1.0; max_df=None for exact scores. The oracle replays the
    raw-shingle inverted index, both set sizes, the min-denominator
    score, and the contained-side pick."""
    from dump1090_db_stream_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    from dump1090_db_stream_spark.operators.text import with_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = (with_tokens(docs.filter(F.col("doc_id") % 10 == 0))
                .select((F.col("doc_id") + 100000).alias("doc_id"),
                        F.concat_ws(" ", F.slice("_toks", 1, 12))
                         .alias("text")))
    corpus = docs.unionByName(excerpts)
    return ngram_containment_pairs(corpus, n=3, threshold=0.9,
                                   max_df=None)


def q_hard_negative_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.similarity.hard_negatives): per
    query, the top-5 most similar vectors with ROUNDED cosine inside
    [0.2, 0.8] — informative contrastive negatives with probable
    positives (near-dups above the band) excluded; the curated
    complement of contrastive_negatives' uniform draws. Band and
    ranking both use the rounded score so boundary rows resolve
    identically in both engines."""
    from dump1090_db_stream_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return hard_negatives(emb, queries, k=5, lo=0.2, hi=0.8)


def q_embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN (operators.similarity.ivf_pq_topk — the FAISS IVFPQ
    shape): the fixed coarse quantizer (embeddings 10..17, the
    embedding_ivf_topk index) prunes WHICH vectors are scanned via a
    probe-cluster EQUI-join, and the fixed product quantizer
    (pq_codebooks_fixed) compresses HOW candidates are scored (m-byte
    codes + per-query LUT). The oracle splices both replays — cosine
    cluster assignment/probing and the PQ encode/LUT/j-ordered ADC
    fold — closed-form."""
    from dump1090_db_stream_spark.operators.similarity import (
        ivf_pq_topk,
        pq_codebooks_fixed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 18))
                 .orderBy("vec_id").select("embedding").collect())
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    books = pq_codebooks_fixed(dim=64, m=8, ksub=16)
    return ivf_pq_topk(emb, queries, centroids, books, k=10, n_probes=4)


def q_ivfpq_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVFPQ index maintenance (r10 verdict stretch ask
    #8; operators.similarity.write_ivfpq_index mode="append" +
    read_ivfpq_quantizers): build the persisted cluster-partitioned
    codes index from 6/7 of the corpus, APPEND the remaining batch
    under the sidecar-stored quantizers (the daily-batch shape —
    assignment and PQ encoding are paid only for the new vectors, the
    existing posting lists never rewrite), then search with the
    quantizers read BACK from the sidecar. Appending is exact by
    construction — per-row deterministic assignment/encoding — so the
    oracle is the full-corpus IVFPQ replay VERBATIM
    (embedding_ivfpq_topk's): hash-equality proves append-then-search
    == build-once-then-search."""
    import shutil
    import tempfile

    from dump1090_db_stream_spark.operators.similarity import (
        ivfpq_topk_from_index,
        pq_codebooks_fixed,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 18))
                 .orderBy("vec_id").select("embedding").collect())
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    books = pq_codebooks_fixed(dim=64, m=8, ksub=16)
    d = tempfile.mkdtemp(prefix="ivfpq_append_")
    shutil.rmtree(d, ignore_errors=True)
    path = d + "/idx"
    write_ivfpq_index(emb.filter(F.col("vec_id") % 7 != 3), path,
                      centroids, books)
    write_ivfpq_index(emb.filter(F.col("vec_id") % 7 == 3), path,
                      centroids, books, mode="append")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    # quantizers deliberately NOT passed: read from the sidecar
    return ivfpq_topk_from_index(spark, path, queries,
                                 k=10, n_probes=4)


def _pq_replay_prefix(dim: int, m: int, ksub: int, nq: int) -> str:
    """The shared closed-form PQ replay (the _ivf_trained_oracle
    prefix-builder pattern): codebook literals (bit-identical to the
    Spark side's Python floats), positional subvectors, per-subspace
    argmin encoding, the query set, and the query LUT. Both PQ oracle
    builders compose on top of these CTEs so the replay can never
    drift between them."""
    from dump1090_db_stream_spark.operators.similarity import (
        pq_codebooks_fixed,
    )

    books = pq_codebooks_fixed(dim, m, ksub)
    dsub = dim // m
    rows = ",\n                ".join(
        f"({j}, {c}, [{', '.join(repr(v) for v in books[j][c])}])"
        for j in range(m) for c in range(ksub))
    return f"""cb(j, c, v) AS (VALUES
                {rows}
            ), subj AS (SELECT unnest(range(0, {m})) AS j),
            sub AS (
                SELECT e.vec_id, s.j,
                       list_transform(
                           range(s.j * {dsub} + 1, s.j * {dsub} + {dsub} + 1),
                           i -> e.embedding[i]::DOUBLE) AS sv
                FROM embeddings e, subj s
            ), dists AS (
                SELECT vec_id, s.j, cb.c,
                       list_sum(list_transform(range(1, {dsub} + 1),
                           i -> (sv[i] - v[i]) * (sv[i] - v[i]))) AS d
                FROM sub s JOIN cb ON cb.j = s.j
            ), codes AS (
                SELECT vec_id, j, c FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                                 ORDER BY d, c) AS rn
                    FROM dists)
                WHERE rn = 1
            ), q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < {nq}
            ), qlut AS (
                SELECT q.query_id, cb.j, cb.c,
                       list_sum(list_transform(range(1, {dsub} + 1),
                           i -> (qv[cb.j * {dsub} + i]::DOUBLE - v[i])
                                * (qv[cb.j * {dsub} + i]::DOUBLE - v[i])))
                           AS d
                FROM q, cb
            )"""


def _ivf_pq_oracle(dim: int = 64, m: int = 8, ksub: int = 16,
                   k: int = 10, nq: int = 5, n_probes: int = 4) -> str:
    """The embedding_ivf_topk assignment/probe replay spliced with the
    shared PQ encode/LUT replay (_pq_replay_prefix): candidates are
    restricted to each query's probed clusters, then ranked by the
    j-ordered ADC fold."""
    return f"""
            WITH {_pq_replay_prefix(dim, m, ksub, nq)},
            cents AS (
                SELECT vec_id - 10 AS cid, embedding AS cvec,
                       1.0 / sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS inv_c
                FROM embeddings WHERE vec_id >= 10 AND vec_id < 18
            ), assign AS (
                SELECT neighbor_id, cid FROM (
                    SELECT e.vec_id AS neighbor_id, t.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_sum(list_transform(
                                   range(1, length(e.embedding) + 1),
                                   i -> e.embedding[i]::DOUBLE
                                        * t.cvec[i]::DOUBLE))
                                   * t.inv_c DESC, t.cid) AS rn
                    FROM embeddings e CROSS JOIN cents t)
                WHERE rn = 1
            ), probes AS (
                SELECT query_id, cid FROM (
                    SELECT q.query_id, t.cid,
                           row_number() OVER (
                               PARTITION BY q.query_id
                               ORDER BY list_sum(list_transform(
                                   range(1, length(q.qv) + 1),
                                   i -> q.qv[i]::DOUBLE
                                        * t.cvec[i]::DOUBLE))
                                   * t.inv_c DESC, t.cid) AS pr
                    FROM q CROSS JOIN cents t)
                WHERE pr <= {n_probes}
            ), adc AS (
                SELECT p.query_id, a.neighbor_id,
                       list_sum(list(ql.d ORDER BY ql.j)) AS dist
                FROM assign a
                JOIN probes p ON p.cid = a.cid
                JOIN codes co ON co.vec_id = a.neighbor_id
                JOIN qlut ql ON ql.query_id = p.query_id
                            AND ql.j = co.j AND ql.c = co.c
                WHERE a.neighbor_id <> p.query_id
                GROUP BY p.query_id, a.neighbor_id
            ), ranked AS (
                SELECT query_id, neighbor_id, dist,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist, neighbor_id)
                           AS rank
                FROM adc
            )
            SELECT query_id, neighbor_id, rank,
                   round(dist, 6) AS adc_dist
            FROM ranked WHERE rank <= {k}
        """


def _pq_topk_oracle(dim: int = 64, m: int = 8, ksub: int = 16,
                    k: int = 10, nq: int = 3) -> str:
    """Closed-form replay of the ENTIRE PQ-flat pipeline: the shared
    encode/LUT prefix (_pq_replay_prefix — bit-identical codebook
    literals) plus the unrestricted j-ordered ADC fold and rank."""
    return f"""
            WITH {_pq_replay_prefix(dim, m, ksub, nq)},
            adc AS (
                SELECT ql.query_id, co.vec_id AS neighbor_id,
                       list_sum(list(ql.d ORDER BY ql.j)) AS dist
                FROM codes co JOIN qlut ql ON co.j = ql.j AND co.c = ql.c
                WHERE co.vec_id <> ql.query_id
                GROUP BY ql.query_id, co.vec_id
            ), ranked AS (
                SELECT query_id, neighbor_id, dist,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist, neighbor_id)
                           AS rank
                FROM adc
            )
            SELECT query_id, neighbor_id, rank,
                   round(dist, 6) AS adc_dist
            FROM ranked WHERE rank <= {k}
        """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the flights band join (the reference's hardest query) at
    sf0.001; driver checks rows>0 and stable schema."""
    return q_flights_band_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER IS LOAD-BEARING: the driver's CORRECTNESS file holds
    only the FIRST 50 entries.  Tiers (see COVERAGE.md "Driver window"):

    1. Queries with ZERO driver rows so far (new last round or deferred
       by the 50-slot cap) — they must land a hard signal before
       anything re-verifies.
    2. Queries whose implementation changed since their last driver
       verification.
    3. ROTATION: stalest previously-green queries fill the remaining
       slots (at 200 queries / 50 slots a query re-enters about every
       4 rounds — the honest bound; scripts/check_correctness.py covers
       the full registry locally every round as CORRECTNESS_LOCAL_r*,
       a committed end-of-round contract, COVERAGE.md checklist #2).
    4. Tail: queries driver-verified green in the PREVIOUS round and
       untouched since — the only safe ones to leave outside.
    """
    return {
        # -- r14 window 1-3 (tier 2, NEW): the unigram-LM
        #    (SentencePiece-style) tokenizer trainer — full-trajectory
        #    DuckDB replay — its distributed encode-stats pass, and
        #    the composed PSI+KS+JSD+PH drift dashboard over one
        #    snapshot pair (cross-metric consistency pin)
        "unigram_vocab": q_unigram_vocab,
        "unigram_encoded_stats": q_unigram_encoded_stats,
        "drift_dashboard": q_drift_dashboard,
        # -- r14 window 4-10 (tier 3, CHANGED since their last
        #    driver green): every registry consumer of the graph.py
        #    iterative loops, re-queued for the r13-ADVICE error-path
        #    release fix (exception-handler-only, happy path
        #    byte-identical — pinned by
        #    test_iteration_error_path_releases_successor_pin — but
        #    the changed-file policy re-verifies consumers anyway);
        #    pipeline_capstone/capstone_export (r13-green, same
        #    upstream) stay in the tail: the handler change cannot
        #    alter a successful run's plan or values
        "neardup_clusters": q_neardup_clusters,
        "neardup_clusters_star": q_neardup_clusters_star,
        "neardup_survivors": q_neardup_survivors,
        "quality_survivors": q_quality_survivors,
        "entity_resolution": q_entity_resolution,
        "pagerank_neardups": q_pagerank_neardups,
        "pagerank_docs": q_pagerank_docs,
        # -- r14 window 11-12 (streaming cadence, COVERAGE.md
        #    policy: batch-replay oracles of streaming paths never
        #    exceed 2 rounds' driver staleness; both are r12)
        "streaming_window_counts": q_streaming_window_counts,
        "stateful_sessions": q_stateful_sessions,
        # -- r14 window 13-50 (tier 1 rotation): ALL 38 queries
        #    whose last driver green is r9 — the stalest hard signal
        #    (r13 verdict ask #2: after r14 nothing predates r10),
        #    stalest-position first (scripts/staleness_report.py)
        "winsorized_values": q_winsorized_values,
        "market_share": q_market_share,
        "event_transitions_k2": q_event_transitions_k2,
        "scd2_point_lookup": q_scd2_point_lookup,
        "track_lines_wkb": q_track_lines_wkb,
        "embedding_ivf_trained": q_embedding_ivf_trained,
        "embedding_quantized": q_embedding_quantized,
        "embedding_quantized_topk": q_embedding_quantized_topk,
        "funnel_conversions": q_funnel_conversions,
        "event_mad_outliers": q_event_mad_outliers,
        "event_zscore_outliers": q_event_zscore_outliers,
        "sliding_window_counts": q_sliding_window_counts,
        "event_trailing_stats": q_event_trailing_stats,
        "corpus_merge": q_corpus_merge,
        "attribution_join": q_attribution_join,
        "weighted_fixed_sample": q_weighted_fixed_sample,
        "doc_unigram_logprob": q_doc_unigram_logprob,
        "cluster_profiles": q_cluster_profiles,
        "neardup_triangles": q_neardup_triangles,
        "lineitem_unpivot": q_lineitem_unpivot,
        "null_safe_join": q_null_safe_join,
        "order_value_ranks": q_order_value_ranks,
        "tolerant_arithmetic": q_tolerant_arithmetic,
        "sbs1_rejects": q_sbs1_rejects,
        "event_value_quantiles": q_event_value_quantiles,
        "daily_quantile_rollup": q_daily_quantile_rollup,
        "embedding_projected": q_embedding_projected,
        "temperature_mixture_docs": q_temperature_mixture_docs,
        "contrastive_negatives": q_contrastive_negatives,
        "containment_pairs": q_containment_pairs,
        "hard_negative_candidates": q_hard_negative_candidates,
        "data_expectations": q_data_expectations,
        "concurrent_sessions": q_concurrent_sessions,
        "fuzzy_name_matches": q_fuzzy_name_matches,
        "callsign_sessions": q_callsign_sessions,
        "locations_projection": q_locations_projection,
        "flights_band_join": q_flights_band_join,
        "window_track_lines": q_window_track_lines,
        # -- positions 51+ (tier 4 tail, r15 rotation queue):
        #    r10 greens stalest-first, then r11, r12, r13 (freshest
        #    last) — scripts/check_correctness.py still covers every
        #    one locally each round
        "ann_recall_lsh": q_ann_recall_lsh,
        "ann_recall_ivfpq": q_ann_recall_ivfpq,
        "ann_recall_ivf": q_ann_recall_ivf,
        "dsir_auc": q_dsir_auc,
        "like_prefix_filter": q_like_prefix_filter,
        "equality_filter": q_equality_filter,
        "time_range_between": q_time_range_between,
        "dedup_by_key": q_dedup_by_key,
        "track_lines_wkt": q_track_lines_wkt,
        "points_in_radius": q_points_in_radius,
        "doc_repetition_stats": q_doc_repetition_stats,
        "pii_scrub_stats": q_pii_scrub_stats,
        "doc_normalized": q_doc_normalized,
        "hash_split_stats": q_hash_split_stats,
        "time_rollup_multires": q_time_rollup_multires,
        "small_quantity_revenue": q_small_quantity_revenue,
        "weekly_active_estimate": q_weekly_active_estimate,
        "table_profile_approx": q_table_profile_approx,
        "event_portable_distinct": q_event_portable_distinct,
        "daily_portable_rollup": q_daily_portable_rollup,
        "doc_entropy": q_doc_entropy,
        "embedding_decontamination": q_embedding_decontamination,
        "boilerplate_shingles": q_boilerplate_shingles,
        "doc_boilerplate_share": q_doc_boilerplate_share,
        "full_outer_balance": q_full_outer_balance,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "embedding_lsh_topk": q_embedding_lsh_topk,
        "minhash_lsh_dups": q_minhash_lsh_dups,
        "simhash_dups": q_simhash_dups,
        "benchmark_decontamination": q_benchmark_decontamination,
        "pricing_summary": q_pricing_summary,
        "weighted_sample": q_weighted_sample,
        "uniform_sample": q_uniform_sample,
        "stratified_sample": q_stratified_sample,
        "mixture_sample_docs": q_mixture_sample_docs,
        "doc_chunks": q_doc_chunks,
        "pack_sequences": q_pack_sequences,
        "corpus_diff": q_corpus_diff,
        "word_token_stats": q_word_token_stats,
        "bpe_token_stats": q_bpe_token_stats,
        "kfold_docs": q_kfold_docs,
        "leakage_safe_split": q_leakage_safe_split,
        "zorder_keys": q_zorder_keys,
        "ks_drift_by_type": q_ks_drift_by_type,
        "keyness_by_source": q_keyness_by_source,
        "chars_tokens_correlation": q_chars_tokens_correlation,
        "exact_value_quantiles": q_exact_value_quantiles,
        "vocab_gini": q_vocab_gini,
        "ivfpq_append_topk": q_ivfpq_append_topk,
        "quality_classifier_scores": q_quality_classifier_scores,
        "classifier_pareto_sample": q_classifier_pareto_sample,
        "unimax_allocation": q_unimax_allocation,
        "unimax_epoch_manifest": q_unimax_epoch_manifest,
        "quality_funnel": q_quality_funnel,
        "ann_recall_int8": q_ann_recall_int8,
        "ann_recall_pq": q_ann_recall_pq,
        "vocab_coverage": q_vocab_coverage,
        "source_divergence": q_source_divergence,
        "event_approx_stats": q_event_approx_stats,
        "daily_distinct_rollup": q_daily_distinct_rollup,
        "bigram_pmi": q_bigram_pmi,
        "doc_bigram_logprob": q_doc_bigram_logprob,
        "tfidf_top_terms": q_tfidf_top_terms,
        "bm25_scores": q_bm25_scores,
        "dsir_auc_by_source": q_dsir_auc_by_source,
        "score_normalized": q_score_normalized,
        "late_shipment_priority": q_late_shipment_priority,
        "product_profit_by_nation": q_product_profit_by_nation,
        "top_value_parts": q_top_value_parts,
        "urgent_shipping_counts": q_urgent_shipping_counts,
        "promo_revenue_share": q_promo_revenue_share,
        "part_supplier_variety": q_part_supplier_variety,
        "excess_share_suppliers": q_excess_share_suppliers,
        "gopher_quality": q_gopher_quality,
        "semantic_dedup": q_semantic_dedup,
        "winnow_fingerprints": q_winnow_fingerprints,
        "length_batches": q_length_batches,
        "dsir_weights": q_dsir_weights,
        "doc_signals": q_doc_signals,
        "event_drift": q_event_drift,
        "embedding_standardized": q_embedding_standardized,
        "line_dedup_docs": q_line_dedup_docs,
        "packing_efficiency": q_packing_efficiency,
        "bootstrap_mean_chars": q_bootstrap_mean_chars,
        "quartile_stratified_sample": q_quartile_stratified_sample,
        "dau_wau_stickiness": q_dau_wau_stickiness,
        "embedding_pq_topk": q_embedding_pq_topk,
        "embedding_ivfpq_topk": q_embedding_ivfpq_topk,
        "local_supplier_volume": q_local_supplier_volume,
        "forecast_revenue": q_forecast_revenue,
        "duplicate_text_spans": q_duplicate_text_spans,
        "stripped_duplicate_spans": q_stripped_duplicate_spans,
        "shipping_priority": q_shipping_priority,
        "returned_item_losses": q_returned_item_losses,
        "customer_distribution": q_customer_distribution,
        "event_correlations": q_event_correlations,
        "weekly_growth": q_weekly_growth,
        "session_funnel": q_session_funnel,
        "top_supplier_revenue": q_top_supplier_revenue,
        "large_order_customers": q_large_order_customers,
        "idle_rich_customers": q_idle_rich_customers,
        "multimodal_features": q_multimodal_features,
        "survival_curve": q_survival_curve,
        "c4_line_stats": q_c4_line_stats,
        "cheapest_supplier_per_part": q_cheapest_supplier_per_part,
        "trade_volume_pairs": q_trade_volume_pairs,
        "capped_user_events": q_capped_user_events,
        "token_budget_sample": q_token_budget_sample,
        "sampled_event_counts": q_sampled_event_counts,
        "logprob_percentile_filter": q_logprob_percentile_filter,
        "sessionized_events": q_sessionized_events,
        "top_journey_paths": q_top_journey_paths,
        "table_profile": q_table_profile,
        "close_encounters": q_close_encounters,
        "json_extract": q_json_extract,
        "sales_rollup": q_sales_rollup,
        "cube_order_stats": q_cube_order_stats,
        "window_running_stats": q_window_running_stats,
        "customers_without_orders": q_customers_without_orders,
        "segment_order_activity": q_segment_order_activity,
        "customer_order_counts": q_customer_order_counts,
        "jsd_snapshot_drift": q_jsd_snapshot_drift,
        "ph_value_drift": q_ph_value_drift,
        "capstone_export": q_capstone_export,
        "bpe_merges_k64_local": q_bpe_merges_k64,
        "pipeline_capstone": q_pipeline_capstone,
        "bpe_merges": q_bpe_merges,
        "bpe_vocab": q_bpe_vocab,
        "bpe_encoded_stats": q_bpe_encoded_stats,
        "bpe_merges_k64": q_bpe_merges_k64,
        "bpe_vocab_k64": q_bpe_vocab_k64,
        "ranksum_snapshot_drift": q_ranksum_snapshot_drift,
        "chisq_snapshot_drift": q_chisq_snapshot_drift,
        "ks_snapshot_drift": q_ks_snapshot_drift,
        "w1_snapshot_drift": q_w1_snapshot_drift,
        "aircraft_json_parse": q_aircraft_json_parse,
        "set_ops_segments": q_set_ops_segments,
        "cosine_neardup_pairs": q_cosine_neardup_pairs,
        "doc_quality": q_doc_quality,
        "lang_id_counts": q_lang_id_counts,
        "doc_fingerprints": q_doc_fingerprints,
        "exact_dup_docs": q_exact_dup_docs,
        "embedding_topk": q_embedding_topk,
        "revenue_by_nation": q_revenue_by_nation,
        "doc_token_stats": q_doc_token_stats,
        "sbs1_parse": q_sbs1_parse,
        "top_revenue_orders": q_top_revenue_orders,
        "session_windows": q_session_windows,
        "event_stats": q_event_stats,
        "event_type_pivot": q_event_type_pivot,
        "asof_join": q_asof_join,
        "ngram_jaccard_dups": q_ngram_jaccard_dups,
        "gap_fill_locf": q_gap_fill_locf,
        "cohort_retention": q_cohort_retention,
        "event_transitions": q_event_transitions,
        "event_type_extremes": q_event_type_extremes,
        "value_histograms": q_value_histograms,
        "disjunctive_revenue": q_disjunctive_revenue,
        "retrieval_metrics": q_retrieval_metrics,
        "dsir_calibration": q_dsir_calibration,
        "late_sole_suppliers": q_late_sole_suppliers,
        "value_runs_scd2": q_value_runs_scd2,
        "weekly_active_users": q_weekly_active_users,
        "weekly_active_by_type": q_weekly_active_by_type,

    }


def _sbs1_rejects_oracle() -> str:
    """SQL replay of parse_sbs1_tagged's routing over the same VALUES
    list: width check, regex-guarded int casts (DuckDB try_cast rounds
    decimal strings where Spark yields NULL), strptime date check, and
    the NOT-NULL columns, in the parser's precedence order."""
    values = ",\n                ".join(
        "('" + line.replace("'", "''") + "')"
        for line in _reject_fixture_lines())
    def num(i: int) -> str:
        return (f"CASE WHEN regexp_matches(nullif(f[{i}], ''), "
                f"'^-?\\d+$') THEN nullif(f[{i}], '')::INTEGER END")
    def bad_int(i: int) -> str:
        return (f"(nullif(f[{i}], '') IS NOT NULL AND NOT "
                f"regexp_matches(nullif(f[{i}], ''), '^-?\\d+$'))")
    return f"""
            WITH raw(value) AS (VALUES
                {values}
            ), fields AS (
                SELECT value,
                       str_split(regexp_replace(value, '\\r$', ''), ',') AS f
                FROM raw
            )
            SELECT value AS raw_value,
                   nullif(f[1], '') AS message_type,
                   {num(2)} AS transmission_type,
                   CASE
                     WHEN length(f) <> 22 THEN 'malformed_width'
                     WHEN {bad_int(13)} OR {bad_int(14)} OR {bad_int(12)}
                       THEN 'strict_integer'
                     WHEN ({num(2)}) IS NULL
                       OR nullif(f[5], '') IS NULL
                       OR try_strptime(nullif(f[7], ''), '%Y/%m/%d') IS NULL
                       OR nullif(f[8], '') IS NULL
                       THEN 'not_null'
                   END AS reject_reason
            FROM fields
        """


def _ivf_trained_oracle(dim: int = 64, k_cent: int = 8, n_iters: int = 2,
                        train_sample: int = 64, n_probes: int = 3,
                        topk: int = 10, prefix_only: bool = False) -> str:
    """Closed-form replay of the ENTIRE trained-quantizer IVF pipeline:
    md5-ranked sampling, both unrolled Lloyd iterations (cosine argmax
    with lower-cid ties, md5-ordered mean update, empty cluster keeps
    its centroid), corpus assignment, probe selection, and top-k
    ranking. Works because kmeans_centroids_portable folds every sum
    left-to-right — the same IEEE sequence as DuckDB's list_sum — so
    the centroids are bit-identical in both engines."""
    rng = f"range(1, {dim + 1})"

    def inv_cte(src: str, name: str, inv: str = "inv") -> str:
        return f"""{name} AS (
                SELECT cid, cvec,
                       1.0 / (CASE WHEN sqrt(ss) = 0 THEN 1.0
                                   ELSE sqrt(ss) END) AS {inv}
                FROM (SELECT cid, cvec,
                             list_sum(list_transform(cvec, x -> x * x)) AS ss
                      FROM {src})
            )"""

    iters = []
    for t in range(n_iters):
        iters.append(f"""{inv_cte(f'c{t}', f'c{t}i')}, a{t} AS (
                SELECT h, embedding, cid FROM (
                    SELECT s.h, s.embedding, c.cid,
                           row_number() OVER (PARTITION BY s.h ORDER BY
                               list_sum(list_transform({rng},
                                   i -> s.embedding[i]::DOUBLE * c.cvec[i]))
                               * c.inv DESC, c.cid) AS rn
                    FROM sample s CROSS JOIN c{t}i c)
                WHERE rn = 1
            ), m{t} AS (
                SELECT cid, list(embedding ORDER BY h) AS mem,
                       count(*) AS n
                FROM a{t} GROUP BY cid
            ), c{t + 1} AS (
                SELECT p.cid,
                       CASE WHEN m.cid IS NULL THEN p.cvec
                            ELSE list_transform({rng},
                                d -> list_sum(list_transform(m.mem,
                                    mm -> mm[d]::DOUBLE)) / m.n)
                       END AS cvec
                FROM c{t} p LEFT JOIN m{t} m ON p.cid = m.cid
            )""")
    iter_sql = ", ".join(iters)
    prefix = f"""
            WITH sample AS (
                SELECT md5(CAST(vec_id AS VARCHAR)) AS h, embedding
                FROM embeddings ORDER BY h LIMIT {train_sample}
            ), c0 AS (
                SELECT cid, cvec FROM (
                    SELECT row_number() OVER (ORDER BY h) - 1 AS cid,
                           list_transform(embedding, x -> x::DOUBLE) AS cvec
                    FROM sample)
                WHERE cid < {k_cent}
            ), {iter_sql}, {inv_cte(f'c{n_iters}', 'cents', 'inv_c')},
            corpus AS (
                SELECT vec_id AS neighbor_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM embeddings
            ), assign AS (
                SELECT neighbor_id, embedding, nrm, cid,
                       row_number() OVER (PARTITION BY neighbor_id
                                          ORDER BY sim DESC, cid) AS rn
                FROM (
                    SELECT c.neighbor_id, c.embedding, c.nrm, t.cid,
                           list_sum(list_transform({rng},
                               i -> c.embedding[i]::DOUBLE * t.cvec[i]))
                           * t.inv_c AS sim
                    FROM corpus c CROSS JOIN cents t)
            ), clustered AS (
                SELECT neighbor_id, embedding, nrm, cid FROM assign
                WHERE rn = 1
            )"""
    if prefix_only:
        return prefix
    return prefix + f""", q AS (
                SELECT vec_id AS query_id, embedding AS qv,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS qnrm
                FROM embeddings WHERE vec_id >= 5 AND vec_id < 10
            ), probes AS (
                SELECT query_id, qv, qnrm, cid FROM (
                    SELECT q.query_id, q.qv, q.qnrm, t.cid,
                           row_number() OVER (
                               PARTITION BY q.query_id
                               ORDER BY list_sum(list_transform({rng},
                                   i -> q.qv[i]::DOUBLE * t.cvec[i]))
                                   * t.inv_c DESC, t.cid) AS pr
                    FROM q CROSS JOIN cents t)
                WHERE pr <= {n_probes}
            ), scored AS (
                SELECT p.query_id, c.neighbor_id,
                       list_sum(list_transform({rng},
                           i -> p.qv[i]::DOUBLE * c.embedding[i]::DOUBLE))
                       / (p.qnrm * c.nrm) AS cos
                FROM probes p JOIN clustered c ON p.cid = c.cid
                WHERE c.neighbor_id <> p.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id)
                           AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
            FROM ranked WHERE rank <= {topk}
        """


def _sbs1_oracle() -> str:
    """DuckDB re-implementation of the SBS-1 parser semantics over the
    golden wire lines. Int casts are regex-guarded because DuckDB's
    try_cast rounds decimal strings to int where Spark's yields NULL."""
    from tests.fixtures import SAMPLE_LINES

    values = ",\n                ".join(
        "('" + line.replace("'", "''") + "')" for line in SAMPLE_LINES)
    txt = "nullif(f[{i}], '')"
    num = ("CASE WHEN regexp_matches(nullif(f[{i}], ''), '^-?\\d+$') "
           "THEN nullif(f[{i}], '')::INTEGER ELSE NULL END")
    flt = "try_cast(nullif(f[{i}], '') AS FLOAT)"
    dt = "CAST(try_strptime(nullif(f[{i}], ''), '%Y/%m/%d') AS DATE)"
    cols = [
        ("message_type", txt), ("transmission_type", num),
        ("session_id", txt), ("aircraft_id", txt), ("hex_ident", txt),
        ("flight_id", txt), ("generated_date", dt), ("generated_time", txt),
        ("logged_date", dt), ("logged_time", txt), ("callsign", txt),
        ("altitude", num), ("ground_speed", num), ("track", num),
        ("lat", flt), ("lon", flt), ("vertical_rate", flt), ("squawk", txt),
        ("alert", num), ("emergency", num), ("spi", num),
        ("is_on_ground", num),
    ]
    select = ",\n                   ".join(
        tmpl.format(i=i + 1) + f" AS {name}"
        for i, (name, tmpl) in enumerate(cols))
    return f"""
            WITH raw(value) AS (VALUES
                {values}
            ), fields AS (
                SELECT str_split(regexp_replace(value, '\\r$', ''), ',') AS f
                FROM raw
            )
            SELECT {select},
                   TIMESTAMP '2020-01-01 00:00:00' AS parsed_time
            FROM fields
            WHERE len(f) = 22
              AND {num.format(i=2)} IS NOT NULL
              AND {txt.format(i=5)} IS NOT NULL
              AND {dt.format(i=7)} IS NOT NULL
              AND {txt.format(i=8)} IS NOT NULL
        """


def _lsh_topk_oracle(dim: int = 64, k: int = 10, n_planes: int = 8,
                     n_tables: int = 6) -> str:
    """DuckDB replay of lsh_topk: the hyperplanes are deterministic
    Python doubles (similarity._hyperplane LCG), embedded here as
    literals, so signature computation, bucket collision, and the
    cosine re-rank are all closed-form SQL. Must mirror lsh_topk's
    seeds (7 + table index) and bit packing exactly; the numpy
    signature kernel matches this left-to-right ``list_sum`` bit for
    bit (tests/test_similarity.py)."""
    from dump1090_db_stream_spark.operators.similarity import _hyperplane

    plane_rows = ",\n                    ".join(
        f"({t}, {1 << p}, {_hyperplane(dim, (7 + t) * 1000 + p)}::DOUBLE[])"
        for t in range(n_tables) for p in range(n_planes))
    return f"""
            WITH planes(tbl, w, pv) AS (
                VALUES {plane_rows}
            ), q_ids AS (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5
            ), sig_c AS (
                SELECT e.vec_id, t.tbl,
                       CAST(sum(CASE WHEN list_sum(list_transform(
                                range(1, length(e.embedding) + 1),
                                i -> e.embedding[i]::DOUBLE * t.pv[i])) >= 0
                            THEN t.w ELSE 0 END) AS BIGINT) AS sig
                FROM embeddings e CROSS JOIN planes t
                GROUP BY e.vec_id, t.tbl
            ), sig_q AS (
                SELECT s.vec_id AS query_id, s.tbl, s.sig
                FROM sig_c s JOIN q_ids q ON s.vec_id = q.vec_id
            ), cand AS (
                SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
                FROM sig_c c JOIN sig_q q
                  ON c.tbl = q.tbl AND c.sig = q.sig
                     AND c.vec_id <> q.query_id
            ), scored AS (
                SELECT cd.query_id, cd.neighbor_id,
                       list_sum(list_transform(
                           range(1, length(ce.embedding) + 1),
                           i -> qe.embedding[i]::DOUBLE
                                * ce.embedding[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(qe.embedding,
                              x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(ce.embedding,
                              x -> x::DOUBLE * x::DOUBLE)))) AS cos
                FROM cand cd
                JOIN embeddings qe ON qe.vec_id = cd.query_id
                JOIN embeddings ce ON ce.vec_id = cd.neighbor_id
            ), ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id)
                           AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
            FROM ranked WHERE rank <= {k}
    """


def _minhash_lsh_oracle(num_hashes: int = 16, bands: int = 8,
                        n: int = 3, threshold: float = 0.03) -> str:
    """DuckDB replay of minhash_lsh_pairs(portable_base_hash=True):
    tokenize -> distinct word n-gram shingles -> md5-derived 60-bit base
    hash mod P -> (a*h+b) mod P min-aggregates -> banded md5 buckets ->
    candidate pairs -> exact-Jaccard verification. Permutation constants
    come from the same _mh_params LCG as the Spark side."""
    from dump1090_db_stream_spark.operators.dedup import _MH_P, _mh_params

    rows = num_hashes // bands
    aggs = ",\n                       ".join(
        f"min(({_mh_params(i)[0]} * hv + {_mh_params(i)[1]}) % {_MH_P}) "
        f"AS mh{i}" for i in range(num_hashes))
    band_selects = "\n                UNION ALL ".join(
        "SELECT id, {b} AS band, md5({cat}) AS bucket FROM sig".format(
            b=b, cat=" || ',' || ".join(
                f"mh{b * rows + r}::VARCHAR" for r in range(rows)))
        for b in range(bands))
    return f"""
            WITH toks AS (
                SELECT doc_id AS id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), sh AS (
                SELECT id, list_distinct(
                    CASE WHEN len(t) - {n - 1} <= 0
                         THEN [array_to_string(t, ' ')]
                         ELSE list_transform(range(1, len(t) - {n - 1} + 1),
                              i -> array_to_string(
                                  list_slice(t, i, i + {n - 1}), ' '))
                    END) AS shs
                FROM toks
            ), h AS (
                SELECT id,
                       ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_P} AS hv
                FROM (SELECT id, unnest(shs) AS s FROM sh)
            ), sig AS (
                SELECT id,
                       {aggs}
                FROM h GROUP BY id
            ), banded AS (
                {band_selects}
            ), cand AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
            )
            SELECT c.id_a, c.id_b,
                   round(len(list_intersect(sa.shs, sb.shs))
                         / len(list_distinct(sa.shs || sb.shs)), 6) AS jaccard
            FROM cand c
            JOIN sh sa ON sa.id = c.id_a
            JOIN sh sb ON sb.id = c.id_b
            WHERE jaccard >= {threshold}
    """


def _simhash_oracle(n: int = 2, n_bits: int = 60, n_chunks: int = 4,
                    max_hamming: int = 12) -> str:
    """DuckDB replay of simhash_neardup_pairs(portable_base_hash=True):
    per-shingle 60-bit hash -> per-bit +1/-1 vote sums -> sign bits ->
    pigeonhole chunk join -> hamming verify via bit_count(xor)."""
    chunk_bits = n_bits // n_chunks
    votes = ",\n                       ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(n_bits))
    sim_terms = "\n                         + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits))
    chunk_rows = ", ".join(f"({i})" for i in range(n_chunks))
    return f"""
            WITH toks AS (
                SELECT doc_id AS id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), sh AS (
                SELECT id,
                    CASE WHEN len(t) - {n - 1} <= 0
                         THEN [array_to_string(t, ' ')]
                         ELSE list_transform(range(1, len(t) - {n - 1} + 1),
                              i -> array_to_string(
                                  list_slice(t, i, i + {n - 1}), ' '))
                    END AS shs
                FROM toks
            ), h AS (
                SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hv
                FROM (SELECT id, unnest(shs) AS s FROM sh)
            ), votes AS (
                SELECT id,
                       {votes}
                FROM h GROUP BY id
            ), simt AS (
                SELECT id,
                       CAST({sim_terms} AS BIGINT) AS sim
                FROM votes
            ), chunks AS (
                SELECT id, sim, ci,
                       (sim >> (ci * {chunk_bits}))
                           & {(1 << chunk_bits) - 1} AS cv
                FROM simt CROSS JOIN (VALUES {chunk_rows}) AS c(ci)
            )
            SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                   bit_count(xor(a.sim, b.sim)) AS hamming
            FROM chunks a JOIN chunks b
              ON a.ci = b.ci AND a.cv = b.cv AND a.id < b.id
            WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
    """


def _table_profile_oracle() -> str:
    """Per-column UNION ALL replay of operators.profiling.table_profile
    over orders: numeric min/max as DOUBLE, string/timestamp min/max as
    VARCHAR, n_null via count(*) - count(col) (sum(CASE) would be
    HUGEINT in DuckDB)."""
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    cols = ["o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"]
    parts = []
    for c in cols:
        if c in numeric:
            mn, mx = f"CAST(min({c}) AS DOUBLE)", f"CAST(max({c}) AS DOUBLE)"
            smn = smx = "CAST(NULL AS VARCHAR)"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
            smn, smx = (f"CAST(min({c}) AS VARCHAR)",
                        f"CAST(max({c}) AS VARCHAR)")
        parts.append(f"""
            SELECT '{c}' AS "column", count(*) AS n_rows,
                   count(*) - count({c}) AS n_null,
                   count(DISTINCT {c}) AS n_distinct,
                   {mn} AS min_num, {mx} AS max_num,
                   {smn} AS min_str, {smx} AS max_str
            FROM orders""")
    return " UNION ALL ".join(parts)


def _table_profile_approx_oracle(rate: int = 8) -> str:
    """Same per-column UNION ALL audit as _table_profile_oracle, but
    n_distinct replays the PORTABLE threshold estimator closed-form:
    per-type canonical string (ints/strings via cast, timestamps via
    epoch micros, doubles via DECIMAL(30,6)) -> first 15 md5 hex chars
    as BIGINT mod 1e9+7 -> keep hashes below MODULUS/rate ->
    count(DISTINCT kept) * rate. Byte-identical canonical text is what
    makes the md5 hashes — and therefore the estimate — match Spark
    bit-for-bit."""
    from dump1090_db_stream_spark.operators.sampling import HASH_MODULUS
    from dump1090_db_stream_spark.operators.sketches import sample_threshold

    t = sample_threshold(rate)
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    canon = {
        "o_orderkey": "CAST(o_orderkey AS VARCHAR)",
        "o_custkey": "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": "CAST(CAST(o_totalprice AS DECIMAL(30,6)) AS VARCHAR)",
        "o_orderdate": "CAST(epoch_us(o_orderdate) AS VARCHAR)",
        "o_orderpriority": "o_orderpriority",
    }
    parts = []
    for c, cn in canon.items():
        h = f"(('0x' || substr(md5({cn}), 1, 15))::BIGINT % {HASH_MODULUS})"
        kept = f"CASE WHEN {h} < {t} THEN {h} END"
        if c in numeric:
            mn, mx = f"CAST(min({c}) AS DOUBLE)", f"CAST(max({c}) AS DOUBLE)"
            smn = smx = "CAST(NULL AS VARCHAR)"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
            smn, smx = (f"CAST(min({c}) AS VARCHAR)",
                        f"CAST(max({c}) AS VARCHAR)")
        parts.append(f"""
            SELECT '{c}' AS "column", count(*) AS n_rows,
                   count(*) - count({c}) AS n_null,
                   count(DISTINCT {kept}) * {rate} AS n_distinct,
                   {mn} AS min_num, {mx} AS max_num,
                   {smn} AS min_str, {smx} AS max_str
            FROM orders""")
    return " UNION ALL ".join(parts)


def oracle_sql() -> dict[str, str]:
    from dump1090_db_stream_spark.operators.sketches import (
        sampled_item_counts_sql,
        threshold_distinct_sql_exprs,
    )

    from dump1090_db_stream_spark.operators.sampling import (
        portable_hash_sql,
        token_budget_sample_sql,
        weighted_fixed_sample_sql,
    )
    from dump1090_db_stream_spark.operators.sketches import sample_threshold

    _th_case, _th_est = threshold_distinct_sql_exprs("user_id", rate=4)
    _qh = f"({portable_hash_sql('event_id')}) < {sample_threshold(4)}"
    _qsel = """a[CAST(floor(0.5 * (len(a) - 1)) AS INT) + 1] AS p50,
                   a[CAST(floor(0.95 * (len(a) - 1)) AS INT) + 1] AS p95"""
    return _alias_oracles({
        "vocab_coverage": """
            WITH toks AS (
                SELECT source,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents WHERE source IS NOT NULL
            ), units AS (
                SELECT source AS g, t[i] || ' ' || t[i+1] AS term
                FROM toks, unnest(range(1, len(t))) AS u(i)
            ), gt AS (
                SELECT g, term, count(*) AS c
                FROM units GROUP BY g, term
            )
            SELECT g AS source,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_singletons,
                   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_doubletons,
                   round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              AS DOUBLE) / sum(c), 6) AS unseen_mass,
                   round(count(*)
                         + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                                AS DOUBLE)
                         * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                         / (2.0 * (sum(CASE WHEN c = 2 THEN 1
                                       ELSE 0 END) + 1)), 6)
                       AS chao1_richness
            FROM gt GROUP BY g
        """,
        "source_divergence": """
            WITH toks AS (
                SELECT source,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents WHERE source IS NOT NULL
            ), units AS (
                SELECT source AS g, t[i] || ' ' || t[i+1] AS term
                FROM toks, unnest(range(1, len(t))) AS u(i)
            ), gt AS (
                SELECT g, term, count(*) AS c
                FROM units GROUP BY g, term
            ), corpus AS (
                SELECT term, CAST(sum(c) AS BIGINT) AS C
                FROM gt GROUP BY term
            ), tot AS (
                SELECT CAST(sum(C) AS BIGINT) AS N, count(*) AS V
                FROM corpus
            ), sall AS (
                SELECT CAST(sum(CAST(floor(
                           ln((C + CAST(0.5 AS DOUBLE))
                              / (N + CAST(0.5 AS DOUBLE) * V))
                           * 1e9 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
                       / 1e9 AS S_all
                FROM corpus, tot
            ), gstat AS (
                SELECT g, CAST(sum(c) AS BIGINT) AS Ng,
                       count(*) AS Vg
                FROM gt GROUP BY g
            ), pq AS (
                SELECT gt.g,
                       (gt.c + CAST(0.5 AS DOUBLE))
                           / (gstat.Ng + CAST(0.5 AS DOUBLE) * tot.V)
                           AS p,
                       (corpus.C + CAST(0.5 AS DOUBLE))
                           / (tot.N + CAST(0.5 AS DOUBLE) * tot.V)
                           AS q
                FROM gt
                JOIN corpus USING (term)
                JOIN gstat ON gt.g = gstat.g
                CROSS JOIN tot
            ), obs AS (
                SELECT g,
                       CAST(sum(CAST(floor(p * ln(p / q) * 1e9 + 0.5)
                                AS DECIMAL(38,0))) AS DOUBLE) / 1e9
                           AS kl_obs,
                       CAST(sum(CAST(floor(ln(q) * 1e9 + 0.5)
                                AS DECIMAL(38,0))) AS DOUBLE) / 1e9
                           AS S_g
                FROM pq GROUP BY g
            )
            SELECT gstat.g AS source,
                   gstat.Ng AS n_tokens,
                   CAST(gstat.Vg AS BIGINT) AS n_types,
                   round(obs.kl_obs
                         + (CAST(0.5 AS DOUBLE)
                            / (gstat.Ng + CAST(0.5 AS DOUBLE) * tot.V))
                           * ((tot.V - gstat.Vg)
                              * ln(CAST(0.5 AS DOUBLE)
                                   / (gstat.Ng
                                      + CAST(0.5 AS DOUBLE) * tot.V))
                              - (sall.S_all - obs.S_g)), 6)
                       AS kl_to_corpus
            FROM gstat
            JOIN obs USING (g)
            CROSS JOIN tot CROSS JOIN sall
        """,
        # BPE-ish pre-tokenizer arm: same derived text as
        # word_token_stats; RE2 replays the Java alternation exactly.
        # regexp_matches is unanchored, so '^[A-Za-z0-9]' mirrors the
        # Spark rlike prefix test.
        "bpe_token_stats": r"""
            WITH toks AS (
                SELECT source,
                       unnest(regexp_extract_all(
                           replace(text, ' value ', ', value; ')
                               || ' — café №42 (naïve)',
                           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tok
                FROM documents
            )
            SELECT source, count(*) AS n_tokens,
                   count(DISTINCT tok) AS n_types,
                   CAST(sum(CASE WHEN NOT regexp_matches(
                                tok, '^[A-Za-z0-9]') THEN 1
                            ELSE 0 END) AS BIGINT) AS n_punct
            FROM toks GROUP BY source
        """,
        # NB-weighted hashed-n-gram classifier: the full train+score
        # replay — md5 bucket hash (the portable 60-bit twin), exact
        # integer count ratios into ln, quantized decimal score sums,
        # sigmoid rounded 6.
        "quality_classifier_scores": r"""
            WITH toks AS (
                SELECT doc_id, (lang = 'en') AS y,
                       regexp_split_to_array(trim(text), '\s+') AS t
                FROM documents
            ), units AS (
                SELECT doc_id, y,
                       unnest(list_concat(
                           t,
                           list_transform(
                               list_zip(t[1:len(t)-1], t[2:len(t)]),
                               z -> z[1] || ' ' || z[2]))) AS u
                FROM toks
            ), occ AS (
                SELECT doc_id, y,
                       CAST(('0x' || substr(md5(u), 1, 15)) AS BIGINT)
                           % 1024 AS bucket
                FROM units
            ), bw AS (
                SELECT bucket,
                       sum(CASE WHEN y THEN 1 ELSE 0 END) AS p,
                       sum(CASE WHEN y THEN 0 ELSE 1 END) AS q
                FROM occ WHERE y IS NOT NULL GROUP BY bucket
            ), tot AS (
                SELECT sum(p) AS pt, sum(q) AS qt FROM bw
            ), w AS (
                SELECT bucket,
                       ln(((p + 1.0) / (pt + 1024.0))
                          / ((q + 1.0) / (qt + 1024.0))) AS weight
                FROM bw CROSS JOIN tot
            ), scored AS (
                SELECT occ.doc_id,
                       count(*) AS n_units,
                       CAST(sum(CAST(floor(
                           coalesce(w.weight, 0.0) * 1e9 + 0.5)
                           AS DECIMAL(38,0))) AS DOUBLE) / 1e9 AS s
                FROM occ LEFT JOIN w USING (bucket)
                GROUP BY occ.doc_id
            )
            SELECT doc_id, CAST(n_units AS BIGINT) AS n_units,
                   round(s, 6) AS score,
                   round(1.0 / (1.0 + exp(-(s / n_units))), 6) AS prob
            FROM scored
        """,
        # Non-default tokenizer arm of the with_tokens seam: RE2 and
        # Java regex agree on \\p{L}/\\p{N} general categories, so the
        # token arrays replay exactly (prototype-verified on the
        # unicode probe string).
        "word_token_stats": r"""
            WITH toks AS (
                SELECT source,
                       unnest(regexp_extract_all(
                           replace(text, ' value ', ', value; ')
                               || ' — café №42 (naïve)',
                           '[\p{L}\p{N}]+')) AS tok
                FROM documents
            )
            SELECT source, count(*) AS n_tokens,
                   count(DISTINCT tok) AS n_types,
                   CAST(sum(length(tok)) AS BIGINT) AS n_chars
            FROM toks GROUP BY source
        """,
        "unimax_allocation": """
            WITH per AS (
                SELECT source,
                       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT)
                           AS n_tokens
                FROM documents WHERE source IS NOT NULL
                GROUP BY source
                -- mirror the Spark side's n_tokens IS NOT NULL filter
                -- (sampling.unimax_allocation): an all-NULL-token
                -- source must be EXCLUDED in both engines, else its
                -- NULL capacity both emits an extra row and
                -- NULL-poisons every later row's sum(k) OVER prefix
                HAVING sum(CAST(n_chars AS BIGINT)) IS NOT NULL
            ), cap AS (
                SELECT source, n_tokens,
                       CAST(n_tokens AS DECIMAL(28,6))
                           * CAST('1.5' AS DECIMAL(10,6)) AS k
                FROM per
            ), staged AS (
                SELECT source, n_tokens, k,
                       row_number() OVER ord AS i,
                       count(*) OVER () AS n,
                       coalesce(sum(k) OVER (
                           ORDER BY k, source
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING),
                           CAST(0 AS DECIMAL(28,6))) AS p
                FROM cap
                WINDOW ord AS (ORDER BY k, source)
            ), flagged AS (
                SELECT *,
                       (CAST(k AS DOUBLE)
                        <= CAST(CAST(210000 AS DECIMAL(28,6)) - p
                                AS DOUBLE) / (n - i + 1)) AS capped
                FROM staged
            ), solved AS (
                SELECT *,
                       sum(CASE WHEN capped THEN k
                                ELSE CAST(0 AS DECIMAL(28,6)) END)
                           OVER () AS capsum,
                       sum(CASE WHEN capped THEN 1 ELSE 0 END)
                           OVER () AS ncap,
                       CASE WHEN capped THEN CAST(k AS DOUBLE)
                            ELSE CAST(CAST(210000 AS DECIMAL(28,6))
                                      - sum(CASE WHEN capped THEN k
                                            ELSE CAST(0 AS
                                                 DECIMAL(28,6)) END)
                                        OVER () AS DOUBLE)
                                 / (n - sum(CASE WHEN capped THEN 1
                                            ELSE 0 END) OVER ())
                       END AS alloc
                FROM flagged
            )
            SELECT source, n_tokens,
                   CAST(k AS DOUBLE) AS capacity,
                   alloc AS alloc_tokens,
                   CASE WHEN n_tokens = 0 THEN NULL
                        ELSE alloc / CAST(n_tokens AS DOUBLE)
                   END AS epochs
            FROM solved
        """,
        "quality_funnel": """
            WITH staged AS (
                SELECT *, count(*) OVER (PARTITION BY md5(text)) AS dupn
                FROM documents
            ), flags AS (
                SELECT
                  coalesce(text IS NOT NULL AND n_chars > 0, FALSE)
                      AS p1,
                  coalesce(n_chars BETWEEN 100 AND 450, FALSE) AS p2,
                  coalesce(lang = 'en', FALSE) AS p3,
                  coalesce(NOT regexp_matches(text, '\\bslow\\b'),
                           FALSE) AS p4,
                  coalesce(dupn = 1, FALSE) AS p5
                FROM staged
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS s_in,
                  CAST(coalesce(sum(CASE WHEN p1
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS s1,
                  CAST(coalesce(sum(CASE WHEN p1 AND p2
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS s2,
                  CAST(coalesce(sum(CASE WHEN p1 AND p2 AND p3
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS s3,
                  CAST(coalesce(sum(CASE WHEN p1 AND p2 AND p3 AND p4
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS s4,
                  CAST(coalesce(sum(CASE WHEN p1 AND p2 AND p3 AND p4 AND p5
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS s5
                FROM flags
            ), rows_out AS (
                SELECT 1 AS stage_idx, 'nonempty' AS stage,
                       s_in AS n_in, s1 AS n_out FROM agg
                UNION ALL SELECT 2, 'length_100_450', s1, s2 FROM agg
                UNION ALL SELECT 3, 'english', s2, s3 FROM agg
                UNION ALL SELECT 4, 'no_blocklist_term', s3, s4
                    FROM agg
                UNION ALL SELECT 5, 'unique_text', s4, s5 FROM agg
            )
            SELECT stage_idx, stage, n_in, n_out,
                   n_in - n_out AS n_dropped,
                   CASE WHEN n_in = 0 THEN NULL
                        ELSE CAST(n_out AS DOUBLE) / n_in
                   END AS survival_rate
            FROM rows_out
        """,
        "minhash_lsh_dups": _minhash_lsh_oracle(),
        "simhash_dups": _simhash_oracle(),
        "embedding_lsh_topk": _lsh_topk_oracle(),
        "sbs1_parse": _sbs1_oracle(),
        "sbs1_rejects": _sbs1_rejects_oracle(),
        "aircraft_json_parse": _aircraft_json_oracle(),
        "top_revenue_orders": """
            SELECT o_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "session_windows": """
            WITH marked AS (
                SELECT user_id, ts, value,
                       CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 < INTERVAL 10 MINUTE
                            THEN 0 ELSE 1 END AS new_sess
                FROM events
            ), sess AS (
                SELECT user_id, ts, value,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 10 MINUTE AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM sess GROUP BY user_id, sid
        """,
        "json_extract": """
            SELECT event_type, count(*) AS n,
                   CAST(sum((props->>'k')::INT) AS BIGINT) AS sum_k,
                   min((props->>'k')::INT) AS min_k,
                   max((props->>'k')::INT) AS max_k
            FROM events GROUP BY event_type
        """,
        "sales_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube_order_stats": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4)))
                              AS DOUBLE), 4) AS total_price,
                   CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
                       AS gid
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "window_running_stats": """
            SELECT user_id, event_id, ts,
                   lag(value) OVER w AS prev_value,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   ntile(4) OVER w AS quartile,
                   round(CAST(sum(CAST(value AS DECIMAL(28,8))) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
                       AS running_sum,
                   count(*) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS running_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "customers_without_orders": """
            SELECT n_name, count(*) AS n_customers,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,4)))
                              AS DOUBLE), 4) AS total_acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
            GROUP BY n_name
        """,
        "segment_order_activity": """
            SELECT c_mktsegment, count(*) AS n_active_customers
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment
        """,
        "customer_order_counts": """
            SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_name
        """,
        "streaming_window_counts": """
            WITH wm AS (SELECT max(ts) - INTERVAL '30 minutes' AS w
                        FROM events),
            g AS (
                SELECT date_trunc('hour', ts) AS window_start, event_type,
                       count(*) AS n_events,
                       round(CAST(sum(CAST(value AS DECIMAL(28,8)))
                                  AS DOUBLE), 6) AS value_sum
                FROM events GROUP BY 1, 2
            )
            SELECT window_start,
                   window_start + INTERVAL '1 hour' AS window_end,
                   event_type, n_events, value_sum
            FROM g, wm
            WHERE window_start + INTERVAL '1 hour' <= wm.w
        """,
        "set_ops_segments": """
            WITH clickers AS (
                SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            ), buyers AS (
                SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            )
            SELECT 'click_only' AS segment, user_id
            FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
            UNION ALL
            SELECT 'both' AS segment, user_id
            FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
        """,
        "callsign_sessions": """
            SELECT user_id, event_type, CAST(ts AS DATE) AS date_seen,
                   max(ts) AS last_seen, min(ts) AS first_seen
            FROM events
            WHERE event_type IS NOT NULL AND event_type <> ''
            GROUP BY user_id, event_type, CAST(ts AS DATE)
        """,
        "locations_projection": """
            SELECT event_id, user_id, ts, value
            FROM events WHERE value IS NOT NULL
        """,
        "flights_band_join": """
            WITH sessions AS (
                SELECT user_id, event_type, CAST(ts AS DATE) AS date_seen,
                       max(ts) AS last_seen, min(ts) AS first_seen
                FROM events
                WHERE event_type IS NOT NULL AND event_type <> ''
                GROUP BY user_id, event_type, CAST(ts AS DATE)
            )
            SELECT DISTINCT l.user_id, l.ts, l.value, s.event_type
            FROM events l JOIN sessions s
              ON l.user_id = s.user_id
             AND l.ts <= s.last_seen + INTERVAL 10 MINUTE
             AND l.ts >= s.first_seen - INTERVAL 10 MINUTE
        """,
        "like_prefix_filter": """
            SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            FROM customer WHERE c_mktsegment LIKE 'AUTO%'
        """,
        "equality_filter": """
            SELECT event_id, user_id, ts, event_type, value
            FROM events WHERE event_type = 'purchase'
        """,
        "time_range_between": """
            SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
            FROM orders
            WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                  AND TIMESTAMP '1996-12-31 23:59:59'
        """,
        "window_track_lines": """
            SELECT * FROM (
                SELECT user_id, ts, value,
                       row_number() OVER w AS rn,
                       lead(value) OVER w AS next_value,
                       lead(ts)    OVER w AS next_ts
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) WHERE next_value IS NOT NULL
        """,
        "dedup_by_key": """
            SELECT event_id, ts, user_id, event_type, value
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY event_type, ts, user_id
                    ORDER BY event_id) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "doc_token_stats": """
            SELECT doc_id, lang, source, n_chars,
                   length(text) AS text_len,
                   length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
            FROM documents
        """,
        "doc_quality": """
            WITH base AS (
                SELECT doc_id,
                       length(text) AS n_char,
                       regexp_split_to_array(trim(text), '\\s+') AS toks,
                       length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                       length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
                FROM documents
            ), feat AS (
                SELECT doc_id, n_char,
                       length(toks) AS n_tok,
                       length(list_filter(toks, t -> list_contains(
                           ['the','and','of','to','in','is','that','it','for','was'],
                           lower(t)))) AS n_stop,
                       n_punct, n_upper
                FROM base
            ), ratios AS (
                SELECT doc_id, n_char, n_tok,
                       CASE WHEN n_tok > 0 THEN (n_char - (n_tok - 1)) / n_tok ELSE 0.0 END AS mean_tok_len,
                       CASE WHEN n_char > 0 THEN n_punct / n_char ELSE 0.0 END AS punct_ratio,
                       CASE WHEN n_char > 0 THEN n_upper / n_char ELSE 0.0 END AS upper_ratio,
                       CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio
                FROM feat
            )
            SELECT doc_id,
                   n_char AS q_n_chars,
                   n_tok AS q_n_tokens,
                   round(mean_tok_len, 4) AS q_mean_token_len,
                   round(punct_ratio, 4) AS q_punct_ratio,
                   round(upper_ratio, 4) AS q_upper_ratio,
                   round(stop_ratio, 4) AS q_stopword_ratio,
                   round(least(n_tok / 100.0, 1.0) * 0.4
                         + (1 - least(punct_ratio * 5, 1.0)) * 0.3
                         + (1 - least(upper_ratio * 5, 1.0)) * 0.3, 4) AS q_quality_score
            FROM ratios
        """,
        "lang_id_counts": """
            WITH toks AS (
                SELECT doc_id, text,
                       list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                      t -> lower(t)) AS t
                FROM documents
            ), hits AS (
                SELECT doc_id, text,
                       length(list_filter(t, x -> list_contains(
                           ['the','and','of','to','in','is','that','it','for','was'], x))) AS he,
                       length(list_filter(t, x -> list_contains(
                           ['le','la','les','de','et','un','une','est','que','pour'], x))) AS hf,
                       length(list_filter(t, x -> list_contains(
                           ['el','la','los','de','que','y','en','un','una','es'], x))) AS hs,
                       length(list_filter(t, x -> list_contains(
                           ['der','die','das','und','ist','von','ein','eine','zu','mit'], x))) AS hd
                FROM toks
            ), pred AS (
                SELECT CASE
                    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN he > 0 AND he >= hf AND he >= hs AND he >= hd THEN 'en'
                    WHEN hf > 0 AND hf >= hs AND hf >= hd THEN 'fr'
                    WHEN hs > 0 AND hs >= hd THEN 'es'
                    WHEN hd > 0 THEN 'de'
                    ELSE 'und' END AS lang_pred
                FROM hits
            )
            SELECT lang_pred, count(*) AS n_docs FROM pred GROUP BY lang_pred
        """,
        "doc_fingerprints": """
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            )
            SELECT doc_id,
                   list_min(list_transform(
                       range(1, greatest(length(toks) - 2, 1) + 1),
                       i -> md5(array_to_string(toks[i:i+2], ' ')))) AS fingerprint
            FROM t
        """,
        "exact_dup_docs": """
            WITH d2 AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000, text FROM documents
            )
            SELECT md5(text) AS content_md5,
                   min(doc_id) AS canonical_id,
                   count(*) AS n_dups
            FROM d2 GROUP BY md5(text) HAVING count(*) >= 2
        """,
        "ngram_jaccard_dups": """
            WITH shs AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) + 1),
                           i -> array_to_string(
                               (regexp_split_to_array(trim(text), '\\s+'))[i:i+2], ' ')))) AS s
                FROM documents
            ), sh AS (
                -- Spark joins on xxhash64(shingle); hashes never reach
                -- the output, so joining on the raw shingle here yields
                -- identical pairs/counts (collision-free assumption)
                SELECT id, s FROM shs
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM sh GROUP BY id
            ), keep AS (
                -- replay of the max_df=1000 stop-phrase cap (the
                -- operator's default): shingles in more docs are
                -- excluded from the common count, never from sizes
                SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000
            ), common AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM (SELECT sh.* FROM sh JOIN keep USING (s)) a
                JOIN (SELECT sh.* FROM sh JOIN keep USING (s)) b
                  ON a.s = b.s AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, n_common,
                   sa.n_sh AS n_a, sb.n_sh AS n_b,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.03
        """,
        "event_stats": """
            SELECT event_type, count(*) AS n,
                   count(DISTINCT user_id) AS n_users,
                   round(avg(value), 6) AS avg_value,
                   round(quantile_cont(value, 0.5), 6) AS median_value,
                   round(stddev_samp(value), 6) AS stddev_value
            FROM events GROUP BY event_type
        """,
        "event_type_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'view') AS n_view,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup
            FROM events GROUP BY user_id
        """,
        "asof_join": """
            SELECT l.user_id, l.ts, l.event_type, r.value AS p_value_asof
            FROM events l
            ASOF LEFT JOIN (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ) r ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "stateful_sessions": """
            WITH mx AS (SELECT max(ts) AS wm FROM events),
            flags AS (
                SELECT user_id, ts,
                       CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts)
                                 + INTERVAL '2 hours'
                            THEN 1 ELSE 0 END AS ns
                FROM events
            ), sess AS (
                SELECT user_id, ts,
                       sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
                FROM flags
            ), agg AS (
                SELECT user_id, sid, min(ts) AS first_seen,
                       max(ts) AS last_seen, count(*) AS n_messages
                FROM sess GROUP BY user_id, sid
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY user_id
                                             ORDER BY sid DESC) AS rn
                FROM agg
            )
            SELECT user_id, first_seen, last_seen, n_messages
            FROM ranked, mx
            WHERE NOT (rn = 1 AND last_seen + INTERVAL '2 hours' > wm)
        """,
        "embedding_neardup_pairs": """
            WITH corpus AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(range(1, length(embedding) + 1),
                           i -> CASE WHEN i = 1
                                     THEN CAST(embedding[i]::DOUBLE + 0.05
                                               AS FLOAT)
                                     ELSE embedding[i] END) AS embedding
                FROM embeddings
            ), n AS (
                SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM corpus
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_sum(list_transform(
                             range(1, length(a.embedding) + 1),
                             i -> a.embedding[i]::DOUBLE
                                  * b.embedding[i]::DOUBLE))
                         / (a.nrm * b.nrm), 6) AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE cosine >= 0.99
        """,
        "embedding_decontamination": """
            WITH bench AS (
                SELECT vec_id + 500000 AS other_id,
                       list_transform(range(1, length(embedding) + 1),
                           i -> CASE WHEN i = 1
                                     THEN CAST(embedding[i]::DOUBLE + 0.03
                                               AS FLOAT)
                                     ELSE embedding[i] END) AS embedding
                FROM embeddings WHERE vec_id % 10 = 0
            ), nc AS (
                SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM embeddings
            ), nb AS (
                SELECT other_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM bench
            )
            SELECT c.vec_id AS corpus_id, b.other_id,
                   round(list_sum(list_transform(
                             range(1, length(c.embedding) + 1),
                             i -> c.embedding[i]::DOUBLE
                                  * b.embedding[i]::DOUBLE))
                         / (c.nrm * b.nrm), 6) AS cosine
            FROM nc c CROSS JOIN nb b
            WHERE cosine >= 0.99
        """,
        "cosine_neardup_pairs": """
            WITH n AS (
                SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_sum(list_transform(
                             range(1, length(a.embedding) + 1),
                             i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                         / (a.nrm * b.nrm), 6) AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE cosine >= 0.35
        """,
        "embedding_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 5
            ), scored AS (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       list_sum(list_transform(range(1, length(c.embedding) + 1),
                           i -> qv[i]::DOUBLE * c.embedding[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(range(1, length(qv) + 1),
                              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
                          * sqrt(list_sum(list_transform(range(1, length(c.embedding) + 1),
                              i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))) AS cos
                FROM embeddings c, q
                WHERE c.vec_id <> q.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
            FROM ranked WHERE rank <= 10
        """,
        "embedding_ivf_trained": _ivf_trained_oracle(),
        "embedding_pq_topk": _pq_topk_oracle(),
        "embedding_ivfpq_topk": _ivf_pq_oracle(),
        "embedding_projected": _projection_oracle(),
        "temperature_mixture_docs": f"""
            WITH d2 AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 < 7 THEN 'big'
                            WHEN doc_id % 10 < 9 THEN 'mid'
                            ELSE 'rare' END AS domain
                FROM documents
            ), c AS (
                SELECT domain, count(*) AS n FROM d2 GROUP BY domain
            ), mn AS (
                SELECT min(n) AS n_min FROM c
            ), r AS (
                SELECT domain,
                       round(pow(CAST(n AS DOUBLE) / n_min, -0.5), 6)
                           AS keep_rate
                FROM c CROSS JOIN mn
            )
            SELECT d.doc_id, d.domain, r.keep_rate
            FROM d2 d JOIN r USING (domain)
            WHERE ({_sampling.portable_hash_seeded_sql("d.doc_id", 3)})
                  % 10000
                  < CAST(round(r.keep_rate * 10000) AS BIGINT)
        """,
        # same trained-k-means prefix (bit-identical centroids), profile
        # tail: per-cluster source mix over the documents join
        "cluster_profiles": _ivf_trained_oracle(prefix_only=True) + """
            SELECT c.cid AS cluster, d.source,
                   count(*) AS n_docs,
                   round(avg(d.n_chars), 6) AS avg_chars
            FROM clustered c JOIN documents d ON c.neighbor_id = d.doc_id
            GROUP BY c.cid, d.source
        """,
        "embedding_ivf_topk": """
            WITH cents AS (
                SELECT vec_id - 10 AS cid, embedding AS cvec,
                       1.0 / sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS inv_c
                FROM embeddings WHERE vec_id >= 10 AND vec_id < 18
            ), corpus AS (
                SELECT vec_id AS neighbor_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM embeddings
            ), assign AS (
                SELECT neighbor_id, embedding, nrm, cid,
                       row_number() OVER (PARTITION BY neighbor_id
                                          ORDER BY sim DESC, cid) AS rn
                FROM (
                    SELECT c.neighbor_id, c.embedding, c.nrm, t.cid,
                           list_sum(list_transform(
                               range(1, length(c.embedding) + 1),
                               i -> c.embedding[i]::DOUBLE * t.cvec[i]::DOUBLE))
                           * t.inv_c AS sim
                    FROM corpus c CROSS JOIN cents t)
            ), clustered AS (
                SELECT neighbor_id, embedding, nrm, cid FROM assign
                WHERE rn = 1
            ), q AS (
                SELECT vec_id AS query_id, embedding AS qv,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS qnrm
                FROM embeddings WHERE vec_id < 5
            ), probes AS (
                SELECT query_id, qv, qnrm, cid FROM (
                    SELECT q.query_id, q.qv, q.qnrm, t.cid,
                           row_number() OVER (
                               PARTITION BY q.query_id
                               ORDER BY list_sum(list_transform(
                                   range(1, length(q.qv) + 1),
                                   i -> q.qv[i]::DOUBLE * t.cvec[i]::DOUBLE))
                                   * t.inv_c DESC, t.cid) AS pr
                    FROM q CROSS JOIN cents t)
                WHERE pr <= 4
            ), scored AS (
                SELECT p.query_id, c.neighbor_id,
                       list_sum(list_transform(
                           range(1, length(c.embedding) + 1),
                           i -> p.qv[i]::DOUBLE * c.embedding[i]::DOUBLE))
                       / (p.qnrm * c.nrm) AS cos
                FROM probes p JOIN clustered c ON p.cid = c.cid
                WHERE c.neighbor_id <> p.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id)
                           AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
            FROM ranked WHERE rank <= 10
        """,
        "corpus_diff": """
            WITH new AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT doc_id + 500000 AS doc_id, text
                FROM documents WHERE doc_id < 20
            ), o AS (
                SELECT doc_id AS id, md5(text) AS old_md5 FROM documents
            ), n AS (
                SELECT doc_id AS id, md5(text) AS new_md5 FROM new
            )
            SELECT coalesce(o.id, n.id) AS doc_id,
                   CASE WHEN o.old_md5 IS NULL THEN 'added'
                        WHEN n.new_md5 IS NULL THEN 'removed'
                        WHEN o.old_md5 = n.new_md5 THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   o.old_md5, n.new_md5
            FROM o FULL OUTER JOIN n ON o.id = n.id
        """,
        "benchmark_decontamination": """
            WITH refs AS (
                SELECT doc_id AS rid,
                       array_to_string(list_slice(
                           regexp_split_to_array(trim(text), '\\s+'),
                           1, 12), ' ') AS rtext
                FROM documents WHERE doc_id IN (3, 47, 90)
            ), dsh AS (
                SELECT doc_id AS did,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 1, 1) + 1),
                           i -> array_to_string(
                               (regexp_split_to_array(trim(text), '\\s+'))[i:i+1], ' ')))) AS s
                FROM documents
            ), rsh AS (
                SELECT rid,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(regexp_split_to_array(rtext, '\\s+')) - 1, 1) + 1),
                           i -> array_to_string(
                               (regexp_split_to_array(rtext, '\\s+'))[i:i+1], ' ')))) AS s
                FROM refs
            ), sizes AS (
                SELECT rid, count(*) AS n_ref FROM rsh GROUP BY rid
            ), common AS (
                SELECT d.did, r.rid, count(*) AS n_common
                FROM dsh d JOIN rsh r ON d.s = r.s
                GROUP BY d.did, r.rid
                HAVING count(*) >= 3
            )
            SELECT did AS doc_id, rid AS ref_id, n_common, s.n_ref,
                   round(n_common / s.n_ref, 6) AS overlap_frac
            FROM common JOIN sizes s USING (rid)
        """,
        "neardup_clusters": """
            WITH shs AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) + 1),
                           i -> array_to_string(
                               (regexp_split_to_array(trim(text), '\\s+'))[i:i+2], ' ')))) AS s
                FROM documents
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM shs GROUP BY id
            ), common AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM shs a JOIN shs b ON a.s = b.s AND a.id < b.id
                GROUP BY a.id, b.id
            ), pairs AS (
                SELECT id_a, id_b FROM common
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6)
                      >= 0.03
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ), reach AS (
                -- transitive closure by recursive CTE: every node
                -- reaches itself and every neighbor of a reached node
                WITH RECURSIVE r(id, v) AS (
                    SELECT a AS id, a AS v FROM edges
                    UNION
                    SELECT r.id, e.b AS v
                    FROM r JOIN edges e ON r.v = e.a
                )
                SELECT id, min(v) AS comp FROM r GROUP BY id
            )
            SELECT d.doc_id,
                   coalesce(reach.comp, d.doc_id) AS canonical_id
            FROM documents d LEFT JOIN reach ON reach.id = d.doc_id
        """,
        "table_profile": _table_profile_oracle(),
        "table_profile_approx": _table_profile_approx_oracle(),
        "hard_negative_candidates": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 5
            ), scored AS (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       round(
                       list_sum(list_transform(range(1, length(c.embedding) + 1),
                           i -> qv[i]::DOUBLE * c.embedding[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(range(1, length(qv) + 1),
                              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
                          * sqrt(list_sum(list_transform(range(1, length(c.embedding) + 1),
                              i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))))
                       , 6) AS cos
                FROM embeddings c, q
                WHERE c.vec_id <> q.query_id
            ), banded AS (
                SELECT * FROM scored
                WHERE cos BETWEEN 0.2 AND 0.8
            ), ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id)
                           AS rank
                FROM banded
            )
            SELECT query_id, neighbor_id, rank, cos AS cosine
            FROM ranked WHERE rank <= 5
        """,
        "containment_pairs": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id,
                       array_to_string(
                           (regexp_split_to_array(trim(text),
                                                  '\\s+'))[1:12], ' ')
                           AS text
                FROM documents WHERE doc_id % 10 = 0
            ), shs AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 1) + 1),
                           i -> array_to_string(
                               (regexp_split_to_array(trim(text), '\\s+'))[i:i+2], ' ')))) AS s
                FROM corpus
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM shs GROUP BY id
            ), common AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM shs a JOIN shs b ON a.s = b.s AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, n_common,
                   sa.n_sh AS n_a, sb.n_sh AS n_b,
                   round(n_common / least(sa.n_sh, sb.n_sh), 6)
                       AS containment,
                   CASE WHEN sa.n_sh <= sb.n_sh THEN id_a ELSE id_b END
                       AS contained_id
            FROM common
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(n_common / least(sa.n_sh, sb.n_sh), 6) >= 0.9
        """,
        "contrastive_negatives": _sampling.negative_pairs_sql(
            "documents", k=2, n_buckets=32, id_expr="doc_id", seed=7),
        "token_budget_sample": token_budget_sample_sql(
            "documents", budget_tokens=700, id_expr="doc_id",
            keys=["source"], seed=7,
            select_cols="source, doc_id",
        ),
        "sampled_event_counts": sampled_item_counts_sql(
            "(SELECT *, CAST(ts AS DATE) AS day FROM events)",
            item_exprs="event_type", id_expr="event_id",
            keys=["day"], rate=8,
        ),
        "sessionized_events": """
            SELECT event_id, user_id, ts, event_type,
                   CAST(sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM (
                SELECT *,
                       CASE WHEN lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id
                                ORDER BY ts, event_id) IS NULL
                              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id
                                ORDER BY ts, event_id) > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
            )
        """,
        "logprob_percentile_filter": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), terms AS (
                SELECT doc_id, unnest(t) AS term FROM toks
            ), tfreq AS (
                SELECT doc_id, term, count(*) AS tf
                FROM terms GROUP BY doc_id, term
            ), freq AS (
                SELECT term, CAST(sum(tf) AS BIGINT) AS c
                FROM tfreq GROUP BY term
            ), tot AS (
                SELECT CAST(sum(tf) AS BIGINT) AS u FROM tfreq
            ), lp AS (
                SELECT f.doc_id,
                       CAST(sum(f.tf) AS BIGINT) AS n_toks,
                       round(sum(f.tf * ln(CAST(q.c AS DOUBLE) / tot.u))
                             / sum(f.tf), 6) AS logprob
                FROM tfreq f JOIN freq q USING (term) CROSS JOIN tot
                GROUP BY f.doc_id
            ), arr AS (
                SELECT list_sort(list(logprob)) AS a, count(*) AS n
                FROM lp WHERE (((((doc_id) % 1000003 + 1000003) % 1000003) * 2654435761 + 40503) % 1000000007) < 250000001
            ), cut AS (
                SELECT CASE WHEN n > 0 THEN
                    a[CAST(floor(0.25 * (len(a) - 1)) AS INT) + 1]
                END AS cutoff FROM arr
            )
            SELECT lp.doc_id, lp.n_toks, lp.logprob, cut.cutoff
            FROM lp CROSS JOIN cut
            WHERE lp.logprob >= cut.cutoff
        """,
        "capped_user_events": """
            SELECT 'first' AS mode, event_id, user_id, ts, event_type
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn <= 3
            UNION ALL
            SELECT 'last' AS mode, event_id, user_id, ts, event_type
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn <= 2
        """,
        "doc_unigram_logprob": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), terms AS (
                SELECT doc_id, unnest(t) AS term FROM toks
            ), tfreq AS (
                SELECT doc_id, term, count(*) AS tf
                FROM terms GROUP BY doc_id, term
            ), freq AS (
                SELECT term, CAST(sum(tf) AS BIGINT) AS c
                FROM tfreq GROUP BY term
            ), tot AS (
                SELECT CAST(sum(tf) AS BIGINT) AS u FROM tfreq
            )
            SELECT f.doc_id,
                   CAST(sum(f.tf) AS BIGINT) AS n_toks,
                   round(sum(f.tf * ln(CAST(q.c AS DOUBLE) / tot.u))
                         / sum(f.tf), 6) AS logprob
            FROM tfreq f JOIN freq q USING (term) CROSS JOIN tot
            GROUP BY f.doc_id
        """,
        "weighted_fixed_sample": weighted_fixed_sample_sql(
            "documents", 100, "n_chars", "doc_id", seed=11,
            select_cols="doc_id, text, lang, source, n_chars"),
        "attribution_join": """
            SELECT v.user_id,
                   v.ts AS l_vts, v.event_id AS l_vid,
                   c.ts AS r_cts, c.event_id AS r_cid,
                   (epoch_us(c.ts) - epoch_us(v.ts)) / 1000000.0
                       AS delay_sec
            FROM events v JOIN events c ON v.user_id = c.user_id
            WHERE v.event_type = 'view' AND c.event_type = 'click'
              AND c.ts >= v.ts
              AND c.ts <= v.ts + INTERVAL 30 MINUTE
        """,
        "corpus_merge": """
            WITH changes AS (
                SELECT doc_id, text || ' v2' AS text, lang, source,
                       n_chars, FALSE AS deleted
                FROM documents
                WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
                UNION ALL
                SELECT doc_id + 600000, text, lang, source, n_chars,
                       FALSE
                FROM documents WHERE doc_id < 15
                UNION ALL
                SELECT doc_id, text, lang, source, n_chars, TRUE
                FROM documents WHERE doc_id % 13 = 0
            )
            SELECT coalesce(c.doc_id, d.doc_id) AS doc_id,
                   CASE WHEN c.doc_id IS NOT NULL
                        THEN c.text ELSE d.text END AS text,
                   CASE WHEN c.doc_id IS NOT NULL
                        THEN c.lang ELSE d.lang END AS lang,
                   CASE WHEN c.doc_id IS NOT NULL
                        THEN c.source ELSE d.source END AS source,
                   CASE WHEN c.doc_id IS NOT NULL
                        THEN c.n_chars ELSE d.n_chars END AS n_chars
            FROM documents d FULL OUTER JOIN changes c
                 ON d.doc_id = c.doc_id
            WHERE c.doc_id IS NULL OR NOT c.deleted
        """,
        "sliding_window_counts": """
            WITH ex AS (
                SELECT event_type, value,
                       make_timestamp(
                           (epoch_us(ts) // 300000000 - k.k) * 300000000)
                           AS window_start
                FROM events, (SELECT unnest([0, 1]) AS k) k
            )
            SELECT window_start,
                   window_start + INTERVAL 10 MINUTE AS window_end,
                   event_type,
                   count(*) AS n,
                   round(sum(value), 6) AS sum_value
            FROM ex
            GROUP BY window_start, event_type
        """,
        "event_trailing_stats": """
            SELECT event_id, user_id, ts, value,
                   count(*) OVER w AS n_trail,
                   round(sum(value) OVER w, 6) AS sum_trail,
                   round(avg(value) OVER w, 6) AS avg_trail
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING
                                   AND CURRENT ROW)
        """,
        # min-chain replay of the greedy funnel fold: t_{i+1} = first
        # step-(i+1) event strictly after t_i (timestamps are unique per
        # user in this dataset; operator tie-breaks by event_id)
        "funnel_conversions": f"""
            WITH s1 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
            ), s2 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t
                GROUP BY e.user_id
            ), s3 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t
                GROUP BY e.user_id
            )
            SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS step_name,
                   (SELECT count(*) FROM s1) AS n_users
            UNION ALL
            SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3)
        """,
        "event_mad_outliers": """
            WITH med AS (
                SELECT event_type, median(value) AS m
                FROM events GROUP BY event_type
            ), mad AS (
                SELECT e.event_type, median(abs(e.value - med.m)) AS d
                FROM events e JOIN med USING (event_type)
                GROUP BY e.event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   round((e.value - med.m) / mad.d, 6) AS mad_score
            FROM events e
            JOIN med USING (event_type) JOIN mad USING (event_type)
            WHERE mad.d > 0
              AND abs(round((e.value - med.m) / mad.d, 6)) > 3.0
        """,
        "event_zscore_outliers": """
            WITH st AS (
                SELECT event_type, avg(value) AS mu, stddev(value) AS sigma
                FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   round((e.value - st.mu) / st.sigma, 6) AS z
            FROM events e JOIN st USING (event_type)
            WHERE st.sigma > 0
              AND abs(round((e.value - st.mu) / st.sigma, 6)) > 2.0
        """,
        "embedding_quantized": """
            WITH base AS (
                SELECT vec_id, embedding AS e,
                       list_max(list_transform(embedding,
                                               x -> abs(x::DOUBLE))) AS amax
                FROM embeddings
            ), scaled AS (
                SELECT vec_id, e,
                       CASE WHEN amax > 0 THEN amax / 127.0
                            ELSE 1.0 END AS scale
                FROM base
            ), ex AS (
                SELECT vec_id, scale,
                       unnest(list_transform(range(1, len(e) + 1),
                           i -> struct_pack(
                               idx := CAST(i - 1 AS INT),
                               qval := CAST(floor(e[i]::DOUBLE / scale
                                                  + 0.5) AS INT)))) AS z
                FROM scaled
            )
            SELECT vec_id, z.idx AS idx, z.qval AS qval, scale FROM ex
        """,
        "embedding_quantized_topk": """
            WITH base AS (
                SELECT vec_id, embedding AS e,
                       list_max(list_transform(embedding,
                                               x -> abs(x::DOUBLE))) AS amax
                FROM embeddings
            ), qv AS (
                SELECT vec_id,
                       list_transform(range(1, len(e) + 1),
                           i -> floor(e[i]::DOUBLE
                                      / (CASE WHEN amax > 0
                                              THEN amax / 127.0
                                              ELSE 1.0 END) + 0.5)) AS q
                FROM base
            ), qset AS (
                SELECT vec_id AS query_id, q AS qq FROM qv WHERE vec_id < 5
            ), scored AS (
                SELECT qset.query_id, c.vec_id AS neighbor_id,
                       list_sum(list_transform(range(1, len(c.q) + 1),
                           i -> qq[i] * c.q[i]))
                       / (sqrt(list_sum(list_transform(range(1, len(qq) + 1),
                              i -> qq[i] * qq[i])))
                          * sqrt(list_sum(list_transform(range(1, len(c.q) + 1),
                              i -> c.q[i] * c.q[i])))) AS cos
                FROM qv c, qset
                WHERE c.vec_id <> qset.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id)
                           AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
            FROM ranked WHERE rank <= 10
        """,
        "bigram_pmi": """
            WITH toks AS (
                SELECT regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), uni AS (
                SELECT unnest(t) AS w FROM toks
            ), ucnt AS (
                SELECT w, count(*) AS c FROM uni GROUP BY w
            ), utot AS (
                SELECT CAST(sum(c) AS BIGINT) AS u FROM ucnt
            ), big AS (
                SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
                FROM toks
            ), bcnt AS (
                SELECT z[1] AS w1, z[2] AS w2, count(*) AS c_xy
                FROM big GROUP BY w1, w2
            ), btot AS (
                SELECT CAST(sum(c_xy) AS BIGINT) AS b FROM bcnt
            ), scored AS (
                SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
                       round(ln(CAST(c_xy AS DOUBLE) * u * u
                                / (CAST(b AS DOUBLE) * u1.c * u2.c)),
                             6) AS pmi
                FROM bcnt
                JOIN ucnt u1 ON bcnt.w1 = u1.w
                JOIN ucnt u2 ON bcnt.w2 = u2.w
                CROSS JOIN utot CROSS JOIN btot
                WHERE c_xy >= 3
            ), top AS (
                SELECT * FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 40
            )
            SELECT w1, w2, c_xy, c_x, c_y, pmi,
                   CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2)
                        AS INT) AS rk
            FROM top
        """,
        # Brute-force n^2 levenshtein cross join on purpose: hash-matching
        # it proves the Spark side's q-gram prefix filter loses no pair.
        "fuzzy_name_matches": """
            SELECT a.c_custkey AS id1, b.c_custkey AS id2,
                   a.c_name AS s1, b.c_name AS s2,
                   levenshtein(a.c_name, b.c_name) AS dist
            FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
            WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
              AND levenshtein(a.c_name, b.c_name) <= 1
        """,
        "tfidf_top_terms": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), terms AS (
                SELECT doc_id, unnest(t) AS term FROM toks
            ), tfreq AS (
                SELECT doc_id, term, count(*) AS tf
                FROM terms GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, count(*) AS df FROM tfreq GROUP BY term
            ), n AS (SELECT count(*) AS n FROM documents),
            scored AS (
                SELECT f.doc_id, f.term, f.tf, d.df,
                       round(ln(n.n / d.df), 6) AS idf,
                       round(f.tf * ln(n.n / d.df), 6) AS tfidf
                FROM tfreq f JOIN dfreq d USING (term) CROSS JOIN n
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS rk
                FROM scored
            )
            SELECT doc_id, term, tf, df, idf, tfidf, rk
            FROM ranked WHERE rk <= 3
        """,
        "bm25_scores": f"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), terms AS (
                SELECT doc_id, unnest(t) AS term FROM toks
            ), tfreq AS (
                SELECT doc_id, term, count(*) AS tf
                FROM terms GROUP BY doc_id, term
            ), doclen AS (
                SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                FROM tfreq GROUP BY doc_id
            ), stats AS (
                SELECT count(*) AS n, avg(dl) AS avgdl FROM doclen
            ), q(term) AS (
                VALUES {", ".join(f"('{t}')" for t in
                                  sorted(set(BM25_QUERY)))}
            ), matched AS (
                SELECT f.* FROM tfreq f JOIN q USING (term)
            ), dfreq AS (
                SELECT term, count(*) AS df FROM matched GROUP BY term
            ), contrib AS (
                SELECT m.doc_id,
                       ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                       * m.tf * 2.2
                       / (m.tf + 1.2 * (1 - 0.75
                                        + 0.75 * l.dl / s.avgdl)) AS c
                FROM matched m
                JOIN dfreq d USING (term)
                JOIN doclen l USING (doc_id)
                CROSS JOIN stats s
            )
            SELECT doc_id, count(*) AS n_matched,
                   round(sum(c), 6) AS score
            FROM contrib GROUP BY doc_id
        """,
        "doc_chunks": _packing.chunk_documents_sql(
            chunk_tokens=32, overlap=8),
        "pack_sequences": _packing.pack_sequences_sql(
            token_budget=2048, n_buckets=16, n_tokens_expr="n_chars"),
        "grouping_sets_revenue": """
            SELECT l_linestatus, l_returnflag, count(*) AS n,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue,
                   CAST(grouping(l_linestatus) AS BIGINT) AS g_stat,
                   CAST(grouping(l_returnflag) AS BIGINT) AS g_ret
            FROM lineitem
            GROUP BY GROUPING SETS ((l_linestatus), (l_returnflag), ())
        """,
        "full_outer_balance": """
            WITH c AS (
                SELECT c_custkey, c_acctbal FROM customer
                WHERE c_acctbal < 0
            ), o AS (
                SELECT o_custkey, o_orderkey, o_totalprice FROM orders
                WHERE o_orderstatus = 'O'
            )
            SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
                   max(c.c_acctbal) AS acctbal,
                   count(o.o_orderkey) AS n_open_orders,
                   round(sum(o.o_totalprice), 2) AS open_total
            FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
            GROUP BY coalesce(c.c_custkey, o.o_custkey)
        """,
        "weighted_sample": f"""
            SELECT doc_id, source,
                   (n_chars % 100) / 100.0 AS keep_p
            FROM documents
            WHERE {_sampling.weighted_sample_where_sql(
                "(n_chars % 100) / 100.0", "doc_id", seed=9)}
        """,
        "uniform_sample": f"""
            SELECT doc_id, lang, source FROM documents
            ORDER BY {_sampling.portable_hash_seeded_sql("doc_id", 5)},
                     doc_id
            LIMIT 100
        """,
        "doc_repetition_stats": """
            WITH toks AS (
                SELECT doc_id AS id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), sh AS (
                SELECT id,
                    CASE WHEN len(t) - 1 <= 0
                         THEN [array_to_string(t, ' ')]
                         ELSE list_transform(range(1, len(t)),
                              i -> array_to_string(
                                  list_slice(t, i, i + 1), ' '))
                    END AS shs
                FROM toks
            ), g AS (
                SELECT id, unnest(shs) AS g FROM sh
            ), per_gram AS (
                SELECT id, g, count(*) AS c FROM g GROUP BY id, g
            )
            SELECT id AS doc_id,
                   CAST(sum(c) AS BIGINT) AS n_grams,
                   count(*) AS n_distinct,
                   CAST(max(c) AS BIGINT) AS top_count,
                   round(CAST(max(c) AS DOUBLE)
                         / CAST(sum(c) AS DOUBLE), 6) AS top_frac,
                   round(1.0 - CAST(count(*) AS DOUBLE)
                         / CAST(sum(c) AS DOUBLE), 6) AS dup_frac
            FROM per_gram GROUP BY id
        """,
        "mixture_sample_docs": f"""
            SELECT doc_id, source FROM documents
            WHERE {_sampling.mixture_sample_where_sql(
                MIXTURE_WEIGHTS, default_weight=0.1, seed=1)}
        """,
        "pii_scrub_stats": """
            WITH p AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id
                            || '@example.com or http://ex.com/p/' || doc_id
                           AS payload
                FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(payload,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_emails,
                   len(regexp_extract_all(payload, 'https?://[^\\s]+'))
                       AS n_urls,
                   regexp_replace(
                       regexp_replace(payload,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       'https?://[^\\s]+', '<URL>', 'g') AS scrubbed
            FROM p
        """,
        "doc_normalized": """
            SELECT doc_id,
                   lower(trim(regexp_replace(
                       '  ' || upper(text) || chr(9) || ' x' || chr(9) || ' ',
                       '\\s+', ' ', 'g'))) AS normalized
            FROM documents
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   length(text) AS n_bytes,
                   length(text) % 640 + 1 AS width,
                   length(text) % 480 + 1 AS height,
                   round(coalesce(list_sum(list_transform(
                             range(1, least(length(text), 256) + 1),
                             i -> ascii(text[i]))), 0)::DOUBLE
                         / greatest(1, least(length(text), 256))
                         / 255.0, 6) AS mean_luma
            FROM documents
        """,
        "hash_split_stats": f"""
            SELECT {_sampling.hash_split_case_sql("doc_id")} AS split,
                   lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            GROUP BY 1, 2
        """,
        "stratified_sample": f"""
            SELECT lang, source, doc_id, rk FROM (
                SELECT lang, source, doc_id,
                       row_number() OVER (
                           PARTITION BY lang, source
                           ORDER BY {_sampling.portable_hash_sql("doc_id")},
                                    doc_id) AS rk
                FROM documents)
            WHERE rk <= 3
        """,
        "time_rollup_multires": """
            SELECT 'minute' AS resolution,
                   CAST(date_trunc('minute', ts) AS TIMESTAMP) AS bucket_start,
                   event_type, count(*) AS n_rows,
                   round(CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 6)
                       AS value_sum,
                   min(value) AS value_min, max(value) AS value_max
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'hour',
                   CAST(date_trunc('hour', ts) AS TIMESTAMP),
                   event_type, count(*),
                   round(CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 6),
                   min(value), max(value)
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'day',
                   CAST(date_trunc('day', ts) AS TIMESTAMP),
                   event_type, count(*),
                   round(CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 6),
                   min(value), max(value)
            FROM events GROUP BY 2, 3
        """,
        # HLL property gates (r10 verdict ask #3): the sketch ESTIMATES
        # are engine-specific, so the Spark side emits the documented
        # accuracy CONTRACT — exact columns both engines reproduce plus
        # within-band booleans computed from the live estimate. The
        # oracle emits literal TRUE: an estimate outside the band is a
        # driver hash mismatch, not an unverifiable rows-only pass.
        "event_approx_stats": """
            SELECT event_type, count(*) AS n,
                   count(DISTINCT user_id) AS exact_distinct,
                   TRUE AS distinct_within_band,
                   TRUE AS median_within_band
            FROM events GROUP BY event_type
        """,
        "daily_distinct_rollup": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_distinct,
                   TRUE AS estimate_within_band
            FROM events GROUP BY event_type
        """,
        # Threshold-sketch twins: the SAME closed-form hash arithmetic as
        # operators.sketches.threshold_distinct, so the approximate
        # ESTIMATE matches bit-for-bit across engines.
        "event_portable_distinct": f"""
            SELECT event_type, count(*) AS n,
                   {_th_est} AS est_distinct_users
            FROM events
            GROUP BY event_type
        """,
        # Direct raw-scan estimate over the same 15-day span the Spark
        # side answers from stored daily samples — equality proves the
        # store-then-merge rollup is lossless. HAVING drops span-empty
        # sample groups, matching explode-of-empty on the Spark side.
        "daily_portable_rollup": f"""
            SELECT event_type, {_th_est} AS est_distinct_users
            FROM events
            WHERE CAST(ts AS DATE) >= DATE '2024-01-05'
              AND CAST(ts AS DATE) < DATE '2024-01-20'
            GROUP BY event_type
            HAVING count(DISTINCT {_th_case}) > 0
        """,
        "small_quantity_revenue": """
            SELECT p_brand, count(*) AS n_items,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4)))
                              AS DOUBLE), 4) AS low_qty_revenue
            FROM lineitem li JOIN part ON l_partkey = p_partkey
            WHERE CAST(l_quantity AS BIGINT) * 5
                  * (SELECT count(*) FROM lineitem l2
                     WHERE l2.l_partkey = li.l_partkey)
                  < (SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem l2
                     WHERE l2.l_partkey = li.l_partkey)
            GROUP BY p_brand
        """,
        "event_value_quantiles": f"""
            WITH sampled AS (
                SELECT event_type, value FROM events WHERE {_qh}
            ), arr AS (
                SELECT event_type, list_sort(list(value)) AS a,
                       count(*) AS n_sampled
                FROM sampled GROUP BY event_type
            )
            SELECT event_type, n_sampled,
                   {_qsel}
            FROM arr
        """,
        "daily_quantile_rollup": f"""
            WITH sampled AS (
                SELECT event_type, value FROM events
                WHERE {_qh}
                  AND CAST(ts AS DATE) >= DATE '2024-01-05'
                  AND CAST(ts AS DATE) < DATE '2024-01-20'
            ), arr AS (
                SELECT event_type, list_sort(list(value)) AS a,
                       count(*) AS n_sampled
                FROM sampled GROUP BY event_type
            )
            SELECT event_type, n_sampled,
                   {_qsel}
            FROM arr
        """,
        "doc_entropy": """
            WITH idx AS (
                SELECT doc_id, text,
                       unnest(range(1, greatest(length(text), 1) + 1)) AS i
                FROM documents
            ), ch AS (
                SELECT doc_id, substr(text, i, 1) AS ch FROM idx
            ), counts AS (
                SELECT doc_id, ch, count(*) AS c
                FROM ch GROUP BY doc_id, ch
            )
            SELECT doc_id,
                   sum(c)::BIGINT AS n_chars,
                   count(*) AS distinct_chars,
                   round(log2(sum(c))
                         - sum(c * log2(c)) / sum(c), 6) AS entropy
            FROM counts
            GROUP BY doc_id
        """,
        "boilerplate_shingles": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), shs AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, greatest(length(t) - 2, 1) + 1),
                    i -> array_to_string(t[i:i+2], ' ')))) AS shingle
                FROM toks
            )
            SELECT shingle, count(*) AS doc_freq
            FROM shs GROUP BY shingle
            HAVING count(*) >= 4
        """,
        "doc_boilerplate_share": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), shs AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, greatest(length(t) - 2, 1) + 1),
                    i -> array_to_string(t[i:i+2], ' ')))) AS s
                FROM toks
            ), freq AS (
                SELECT s, count(*) AS df FROM shs GROUP BY s
            )
            SELECT shs.doc_id,
                   count(*) AS n_shingles,
                   count(*) FILTER (freq.df >= 4) AS n_boiler,
                   round(count(*) FILTER (freq.df >= 4) / count(*), 6)
                       AS boiler_share
            FROM shs JOIN freq ON freq.s = shs.s
            GROUP BY shs.doc_id
        """,
        "track_lines_wkt": """
            WITH pts AS (
                SELECT user_id, ts, event_id,
                       ((event_id * 104729) % 34000) / 100.0 - 170.0 AS lon,
                       ((event_id * 7919) % 14000) / 100.0 - 70.0 AS lat
                FROM events
            ), fmt AS (
                SELECT user_id, ts, event_id,
                       regexp_replace(regexp_replace(
                           printf('%.6f', lon), '0+$', ''), '\\.$', '') AS xs,
                       regexp_replace(regexp_replace(
                           printf('%.6f', lat), '0+$', ''), '\\.$', '') AS ys
                FROM pts
            )
            SELECT user_id,
                   count(*) AS n_points,
                   'POINT(' || first(xs ORDER BY ts, event_id) || ' '
                            || first(ys ORDER BY ts, event_id) || ')'
                       AS start_wkt,
                   'LINESTRING(' || string_agg(xs || ' ' || ys, ','
                                               ORDER BY ts, event_id) || ')'
                       AS track_wkt
            FROM fmt
            GROUP BY user_id
        """,
        "track_lines_wkb": """
            -- closed-form WKB byte replay: IEEE-754 binary64 bits are
            -- recomposed arithmetically (sign/exponent/mantissa; the
            -- power-of-two rescale is exact), little-endianized byte by
            -- byte, and framed with the OGC point/linestring headers.
            -- All coordinate arithmetic is forced to DOUBLE so both
            -- engines execute the identical IEEE operation sequence.
            WITH pts AS (
                SELECT user_id, ts, event_id,
                       CAST((event_id * 104729) % 34000 AS DOUBLE)
                           / CAST(100 AS DOUBLE) - CAST(170 AS DOUBLE) AS lon,
                       CAST((event_id * 7919) % 14000 AS DOUBLE)
                           / CAST(100 AS DOUBLE) - CAST(70 AS DOUBLE) AS lat
                FROM events
            ), coords AS (
                SELECT user_id, ts, event_id, 0 AS ci, lon AS v FROM pts
                UNION ALL
                SELECT user_id, ts, event_id, 1 AS ci, lat AS v FROM pts
            ), ecs AS (
                SELECT user_id, ts, event_id, ci, v,
                       CASE WHEN abs(v) / pow(2.0, e0) >= 2 THEN e0 + 1
                            WHEN abs(v) / pow(2.0, e0) < 1 THEN e0 - 1
                            ELSE e0 END AS ec
                FROM (SELECT *, CASE WHEN v = 0 THEN 0
                                     ELSE CAST(floor(log2(abs(v))) AS INTEGER)
                                END AS e0
                      FROM coords)
            ), bits AS (
                SELECT user_id, ts, event_id, ci,
                       CASE WHEN v = 0 THEN 0::HUGEINT ELSE
                         (CASE WHEN v < 0 THEN 9223372036854775808::HUGEINT
                               ELSE 0::HUGEINT END)
                         + ((ec + 1023)::HUGEINT * 4503599627370496::HUGEINT)
                         + (CAST(abs(v) / pow(2.0, ec)
                                 * 4503599627370496.0 AS HUGEINT)
                            - 4503599627370496::HUGEINT)
                       END AS b
                FROM ecs
            ), chex AS (
                SELECT user_id, ts, event_id, ci,
                       lower(string_agg(
                           lpad(to_hex(CAST((b // CAST(pow(256, i) AS HUGEINT))
                                            % 256 AS BIGINT)), 2, '0'),
                           '' ORDER BY i)) AS h
                FROM bits, range(8) r(i)
                GROUP BY user_id, ts, event_id, ci, b
            ), pthex AS (
                SELECT user_id, ts, event_id,
                       string_agg(h, '' ORDER BY ci) AS xy
                FROM chex GROUP BY user_id, ts, event_id
            ), agg AS (
                SELECT user_id, count(*) AS n_points,
                       lower(lpad(to_hex(count(*)), 8, '0')) AS nh,
                       first(xy ORDER BY ts, event_id) AS first_xy,
                       string_agg(xy, '' ORDER BY ts, event_id) AS all_xy
                FROM pthex GROUP BY user_id
            )
            SELECT user_id, n_points,
                   '0101000000' || first_xy AS start_wkb,
                   '0102000000' || substr(nh, 7, 2) || substr(nh, 5, 2)
                       || substr(nh, 3, 2) || substr(nh, 1, 2)
                       || all_xy AS track_wkb
            FROM agg
        """,
        # dense grid via range+unnest; LOCF/interp via the same
        # ignore-nulls frames the operator uses (bucket-index space, so
        # the only float ops are one divide/multiply/add per gap row)
        "gap_fill_locf": """
            WITH b AS (
                SELECT event_type, epoch_us(ts) // 3600000000 AS _b,
                       count(*) AS n_obs, avg(value) AS _avg
                FROM events GROUP BY 1, 2
            ), span AS (
                SELECT event_type, min(_b) AS lo, max(_b) AS hi
                FROM b GROUP BY 1
            ), grid AS (
                SELECT event_type, unnest(range(lo, hi + 1)) AS _b
                FROM span
            ), dense AS (
                SELECT g.event_type, g._b,
                       coalesce(b.n_obs, 0) AS n_obs, b._avg
                FROM grid g LEFT JOIN b USING (event_type, _b)
            ), f AS (
                SELECT event_type, _b, n_obs, _avg,
                       last_value(_avg IGNORE NULLS) OVER wp AS pv,
                       last_value(CASE WHEN _avg IS NOT NULL THEN _b END
                                  IGNORE NULLS) OVER wp AS pb,
                       first_value(_avg IGNORE NULLS) OVER wf AS nv,
                       first_value(CASE WHEN _avg IS NOT NULL THEN _b END
                                   IGNORE NULLS) OVER wf AS nb
                FROM dense
                WINDOW wp AS (PARTITION BY event_type ORDER BY _b
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW),
                       wf AS (PARTITION BY event_type ORDER BY _b
                              ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING)
            )
            SELECT event_type,
                   make_timestamp(_b * 3600000000) AS bucket_start,
                   n_obs,
                   round(_avg, 6) AS value_avg,
                   round(pv, 6) AS value_locf,
                   round(CASE WHEN _avg IS NOT NULL THEN _avg
                              ELSE pv + (nv - pv)
                                   * (CAST(_b - pb AS DOUBLE)
                                      / CAST(nb - pb AS DOUBLE))
                         END, 6) AS value_interp
            FROM f
        """,
        # cohort size re-derived from offset 0, exactly as the operator
        # does (first-period activity is implied by membership)
        "cohort_retention": """
            WITH c AS (
                SELECT user_id,
                       min(epoch_us(ts) // 86400000000) AS coh
                FROM events GROUP BY 1
            ), a AS (
                SELECT DISTINCT user_id,
                       epoch_us(ts) // 86400000000 AS p
                FROM events
            ), act AS (
                SELECT coh, p - coh AS period_offset,
                       count(*) AS n_active
                FROM a JOIN c USING (user_id)
                GROUP BY 1, 2
            )
            SELECT make_timestamp(coh * 86400000000) AS cohort_start,
                   period_offset, n_active,
                   max(CASE WHEN period_offset = 0 THEN n_active END)
                       OVER (PARTITION BY coh) AS n_cohort,
                   round(CAST(n_active AS DOUBLE)
                         / max(CASE WHEN period_offset = 0
                                    THEN n_active END)
                               OVER (PARTITION BY coh), 6) AS retention
            FROM act
        """,
        "event_transitions": """
            WITH p AS (
                SELECT event_type AS from_state,
                       lead(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                           AS to_type
                FROM events
            )
            SELECT from_state, to_type, count(*) AS n_transitions,
                   round(CAST(count(*) AS DOUBLE)
                         / sum(count(*))
                               OVER (PARTITION BY from_state), 6)
                       AS prob
            FROM p
            WHERE from_state IS NOT NULL AND to_type IS NOT NULL
            GROUP BY from_state, to_type
        """,
        "event_transitions_k2": """
            WITH p AS (
                SELECT CASE WHEN lag(event_type) OVER w IS NOT NULL
                            THEN lag(event_type) OVER w || '>'
                                 || event_type END AS from_state,
                       lead(event_type) OVER w AS to_type
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT from_state, to_type, count(*) AS n_transitions,
                   round(CAST(count(*) AS DOUBLE)
                         / sum(count(*))
                               OVER (PARTITION BY from_state), 6)
                       AS prob
            FROM p WHERE from_state IS NOT NULL AND to_type IS NOT NULL
            GROUP BY from_state, to_type
        """,
        # DuckDB arg_max has no composite tiebreak; max over a NAMED
        # struct compares field-by-field (same as Spark struct ordering)
        "event_type_extremes": """
            SELECT event_type, count(*) AS n,
                   round(min(value), 6) AS value_min,
                   round(max(value), 6) AS value_max,
                   (max({'v': value, 'e': event_id, 'u': user_id})).u
                       AS top_user,
                   (max({'v': value, 'e': event_id, 't': ts})).t
                       AS top_ts,
                   (min({'v': value, 'e': event_id, 'u': user_id})).u
                       AS bottom_user
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        """,
        "value_histograms": """
            WITH ext AS (
                SELECT event_type, min(value) AS lo, max(value) AS hi
                FROM events WHERE value IS NOT NULL GROUP BY 1
            ), b AS (
                SELECT e.event_type, ext.lo, ext.hi,
                       CAST(CASE WHEN ext.hi = ext.lo THEN 0
                                 ELSE least(floor((e.value - ext.lo)
                                            / (ext.hi - ext.lo) * 12),
                                            11)
                            END AS INT) AS bin
                FROM events e JOIN ext USING (event_type)
                WHERE e.value IS NOT NULL
            )
            SELECT event_type, bin,
                   round(lo + bin * ((hi - lo) / 12), 6) AS bin_lo,
                   round(lo + (bin + 1) * ((hi - lo) / 12), 6) AS bin_hi,
                   count(*) AS n
            FROM b GROUP BY event_type, lo, hi, bin
        """,
        # identical lag/cumsum/lead derivation; the row_number()=1 arm
        # mirrors the operator's struct-lag first-row handling
        "value_runs_scd2": """
            WITH c AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN row_number() OVER w = 1 THEN 0
                            WHEN lag(event_type) OVER w
                                 IS NOT DISTINCT FROM event_type THEN 0
                            ELSE 1 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), r AS (
                SELECT user_id, ts, event_type,
                       CAST(sum(chg) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) + 1
                            AS BIGINT) AS run
                FROM c
            ), g AS (
                SELECT user_id, run, min(ts) AS valid_from,
                       min(event_type) AS event_type,
                       count(*) AS n_rows
                FROM r GROUP BY user_id, run
            )
            SELECT user_id, event_type, run, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY run) AS valid_to,
                   n_rows
            FROM g
        """,
        # direct raw-scan replay of the store-then-merge trailing
        # estimate: the deterministic hash-threshold sample makes them
        # equal (losslessness, as in daily_portable_rollup)
        # interval-CONTAINMENT replay of the asof composition: a hash
        # match proves backward-asof-on-valid_from == containment on
        # gapless half-open SCD2 chains (per-user-unique ts fixture)
        "scd2_point_lookup": """
            WITH c AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN row_number() OVER w = 1 THEN 0
                            WHEN lag(event_type) OVER w
                                 IS NOT DISTINCT FROM event_type THEN 0
                            ELSE 1 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), rr AS (
                SELECT user_id, ts, event_type,
                       CAST(sum(chg) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) + 1
                            AS BIGINT) AS run
                FROM c
            ), g AS (
                SELECT user_id, run, min(ts) AS valid_from,
                       min(event_type) AS attr
                FROM rr GROUP BY user_id, run
            ), iv AS (
                SELECT user_id, run, valid_from, attr,
                       lead(valid_from) OVER (PARTITION BY user_id
                                              ORDER BY run) AS valid_to
                FROM g
            )
            SELECT e.event_id, e.user_id, e.ts, e.event_type,
                   iv.attr AS attr_asof, iv.run AS run_asof
            FROM events e
            JOIN iv ON e.user_id = iv.user_id
                   AND iv.valid_from <= e.ts
                   AND (iv.valid_to IS NULL OR e.ts < iv.valid_to)
        """,
        "weekly_active_estimate": f"""
            WITH a AS (
                SELECT DISTINCT epoch_us(ts) // 86400000000 AS d,
                       ({portable_hash_sql('user_id')}) AS h
                FROM events
                WHERE ({portable_hash_sql('user_id')})
                      < {sample_threshold(4)}
            ), s AS (
                SELECT max(d) AS hi FROM a
            ), v AS (
                SELECT h, unnest(range(d, least(d + 6,
                                                (SELECT hi FROM s)) + 1))
                           AS w
                FROM a
            )
            SELECT make_timestamp(w * 86400000000) AS day,
                   count(DISTINCT h) * 4 AS est_active
            FROM v GROUP BY w
        """,
        "market_share": """
            SELECT year(o_orderdate) AS o_year,
                   count(*) AS n_items,
                   round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(28,8))) AS DOUBLE), 2)
                       AS total_revenue,
                   round(
                       CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                                THEN CAST(l_extendedprice
                                          * (1 - l_discount)
                                          AS DECIMAL(28,8))
                                ELSE CAST(0 AS DECIMAL(28,8)) END)
                            AS DOUBLE)
                       / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(28,8))) AS DOUBLE),
                       6) AS mkt_share
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
                          AND r_name = 'EUROPE'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            JOIN part     ON l_partkey = p_partkey
                          AND p_type = 'PROMO'
            GROUP BY year(o_orderdate)
        """,
        "late_shipment_priority": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1997-04-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        "product_profit_by_nation": """
            SELECT n_name AS nation,
                   year(o_orderdate) AS o_year,
                   count(*) AS n_items,
                   round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       - p_retailprice * l_quantity
                                       AS DECIMAL(28,8))) AS DOUBLE), 2)
                       AS profit
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN part     ON l_partkey = p_partkey
                          AND p_name LIKE '%red%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            GROUP BY n_name, year(o_orderdate)
        """,
        "top_value_parts": """
            WITH per_part AS (
                SELECT l_partkey,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(28,8))) AS prev,
                       count(*) AS n_items
                FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey AS p_partkey, n_items,
                   round(CAST(prev AS DOUBLE), 2) AS part_revenue
            FROM per_part
            WHERE CAST(prev * 4 * (SELECT count(*) FROM per_part)
                       AS DOUBLE)
                  > CAST((SELECT sum(prev) FROM per_part) * 5 AS DOUBLE)
        """,
        "urgent_shipping_counts": """
            SELECT l_returnflag AS line_class,
                   CAST(sum(CASE WHEN o_orderpriority
                                 IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority
                                 IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
              AND l_shipdate <  TIMESTAMP '1999-01-01'
            GROUP BY l_returnflag
        """,
        "promo_revenue_share": """
            SELECT count(*) AS n_items,
                   round(100.0
                         * CAST(sum(CASE WHEN p_type = 'PROMO'
                                    THEN CAST(l_extendedprice
                                              * (1 - l_discount)
                                              AS DECIMAL(28,8))
                                    ELSE CAST(0 AS DECIMAL(28,8)) END)
                                AS DOUBLE)
                         / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                         AS DECIMAL(28,8))) AS DOUBLE),
                         6) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1998-03-01'
              AND l_shipdate <  TIMESTAMP '1998-04-01'
        """,
        "part_supplier_variety": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5'
              AND p_type NOT LIKE 'SMALL%'
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
              AND l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        "excess_share_suppliers": """
            WITH sel AS (
                SELECT l_partkey, l_suppkey,
                       CAST(l_quantity AS BIGINT) AS q
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE 'red%'
                  AND l_shipdate >= TIMESTAMP '1998-01-01'
                  AND l_shipdate <  TIMESTAMP '1999-01-01'
            ), per_ps AS (
                SELECT l_partkey, l_suppkey, sum(q) AS sq
                FROM sel GROUP BY l_partkey, l_suppkey
            ), per_p AS (
                SELECT l_partkey, sum(q) AS tq FROM sel GROUP BY l_partkey
            )
            SELECT s_suppkey, s_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
                        AND n_name = 'NATION_1'
            WHERE s_suppkey IN (
                SELECT a.l_suppkey FROM per_ps a
                JOIN per_p b ON a.l_partkey = b.l_partkey
                WHERE a.sq * 2 > b.tq)
        """,
        "gopher_quality": """
            WITH base AS (
                SELECT doc_id, text,
                       regexp_split_to_array(trim(text), '\\s+') AS toks,
                       string_split(text, chr(10)) AS lines
                FROM documents
            ), feat AS (
                SELECT doc_id,
                       length(toks) AS n_words,
                       length(lines) AS n_lines,
                       CASE WHEN length(toks) > 0 THEN round(
                           list_sum(list_transform(toks,
                                                   t -> length(t)))
                           / length(toks), 6) ELSE 0.0 END
                           AS mean_word_len,
                       CASE WHEN length(toks) > 0 THEN round(
                           (length(text)
                            - length(replace(text, '#', ''))
                            + (length(text)
                               - length(replace(text, '...', ''))) / 3)
                           / length(toks), 6) ELSE 0.0 END
                           AS symbol_word_ratio,
                       CASE WHEN length(lines) > 0 THEN round(
                           length(list_filter(lines, ln ->
                               regexp_matches(trim(ln), '^[-*•]')))
                           / length(lines), 6) ELSE 0.0 END
                           AS bullet_line_frac,
                       CASE WHEN length(lines) > 0 THEN round(
                           length(list_filter(lines, ln ->
                               trim(ln) LIKE '%...'))
                           / length(lines), 6) ELSE 0.0 END
                           AS ellipsis_line_frac,
                       CASE WHEN length(toks) > 0 THEN round(
                           length(list_filter(toks, t ->
                               regexp_matches(t, '[a-zA-Z]')))
                           / length(toks), 6) ELSE 0.0 END
                           AS alpha_word_frac,
                       (CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'the') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'be') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'to') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'of') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'and') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'that') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'have') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(list_transform(toks,
                            t -> lower(t)), 'with') THEN 1 ELSE 0 END)
                           AS stop_hits
                FROM base
            )
            SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
                   bullet_line_frac, ellipsis_line_frac,
                   alpha_word_frac, stop_hits,
                   (n_words >= 40 AND n_words <= 100000) AS r_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                       AS r_mean_word_len,
                   (symbol_word_ratio <= 0.1) AS r_symbol_ratio,
                   (bullet_line_frac <= 0.9) AS r_bullet_lines,
                   (ellipsis_line_frac <= 0.3) AS r_ellipsis_lines,
                   (alpha_word_frac >= 0.8) AS r_alpha_words,
                   (stop_hits >= 2) AS r_stopwords,
                   ((n_words >= 40 AND n_words <= 100000)
                    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                    AND symbol_word_ratio <= 0.1
                    AND bullet_line_frac <= 0.9
                    AND ellipsis_line_frac <= 0.3
                    AND alpha_word_frac >= 0.8
                    AND stop_hits >= 2) AS gopher_pass
            FROM feat
        """,
        "c4_line_stats": """
            WITH base AS (
                SELECT doc_id, text,
                       string_split(text, chr(10)) AS lines,
                       list_filter(string_split(text, chr(10)), ln ->
                           regexp_matches(trim(ln),
                                          '[.!?]["'']?\\s*$')
                           AND length(regexp_split_to_array(trim(ln),
                                                            '\\s+')) >= 5
                           AND NOT contains(lower(ln), 'javascript'))
                           AS kept
                FROM documents
            ), verdict AS (
                SELECT doc_id, lines, kept,
                       CASE WHEN contains(lower(text), 'lorem ipsum')
                                 OR contains(lower(text), '{')
                            THEN 'marker'
                            WHEN length(kept) < 3 THEN 'too_few_lines'
                       END AS drop_reason
                FROM base
            )
            SELECT doc_id,
                   length(lines) AS n_lines,
                   length(kept) AS n_kept,
                   drop_reason IS NOT NULL AS doc_dropped,
                   drop_reason,
                   CASE WHEN drop_reason IS NULL
                        THEN list_aggregate(list_transform(kept,
                                 x -> CAST(x AS VARCHAR)),
                                 'string_agg', chr(10)) END AS clean_text
            FROM verdict
        """,
        "semantic_dedup": _semantic_dedup_oracle(),
        "pagerank_neardups": _pagerank_oracle(),
        "pagerank_docs": _pagerank_docs_oracle(),
        "score_normalized": """
            -- ties break by (value, salt, id) where salt is the
            -- portable 60-bit md5 of the id mod tie_salt=8 — the
            -- two-level row_number quantile_normalize uses so one
            -- all-ties value cannot funnel a single task
            WITH base AS (
                SELECT doc_id AS id, source AS grp,
                       CAST(n_chars AS DOUBLE) AS v,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 15))::BIGINT % 8 AS sl
                FROM documents WHERE n_chars IS NOT NULL
            ), ranked AS (
                SELECT id, grp, v,
                       CAST(least(floor(percent_rank() OVER (
                           PARTITION BY grp ORDER BY v, sl, id) * 20),
                           19) AS INT) AS q
                FROM base
            ), gq AS (
                SELECT CAST(least(floor(percent_rank() OVER (
                           ORDER BY v, sl, id) * 20), 19) AS INT) AS gq,
                       v
                FROM base
            ), global_q AS (
                SELECT gq, max(v) AS norm_value FROM gq GROUP BY gq
            ), dense AS (
                -- total step function: forward-fill unoccupied buckets
                -- with a running max (norm_value is monotone in gq;
                -- bucket 0 is always occupied)
                SELECT gs.gq,
                       max(g.norm_value) OVER (
                           ORDER BY gs.gq
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS norm_value
                FROM generate_series(0, 19) AS gs(gq)
                LEFT JOIN global_q g ON g.gq = gs.gq
            )
            SELECT r.id AS doc_id, r.grp AS source,
                   r.v AS n_chars, d.norm_value
            FROM ranked r JOIN dense d ON r.q = d.gq
        """,
        "survival_curve": """
            WITH per_user AS (
                SELECT user_id,
                       CAST(min(ts) AS TIMESTAMP) AS f,
                       CAST(max(ts) AS TIMESTAMP) AS l
                FROM events GROUP BY user_id
            ), lifted AS (
                SELECT datediff('day', f::DATE, l::DATE) AS t_day,
                       (datediff('day', l::DATE,
                            (SELECT max(l) FROM per_user)::DATE) < 5)
                           AS censored
                FROM per_user
            ), days AS (
                SELECT t_day,
                       CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END)
                            AS BIGINT) AS churned,
                       CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END)
                            AS BIGINT) AS censored
                FROM lifted GROUP BY t_day
            ), at_risk AS (
                SELECT t_day, churned, censored,
                       (SELECT count(*) FROM lifted)
                       - coalesce(sum(churned + censored) OVER (
                             ORDER BY t_day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS n_risk
                FROM days
            )
            SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk,
                   churned, censored,
                   round(exp(sum(CASE WHEN churned > 0
                             THEN ln(1.0 - CAST(churned AS DOUBLE)
                                     / n_risk)
                             ELSE 0.0 END) OVER (
                         ORDER BY t_day
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)), 6) AS survival
            FROM at_risk
        """,
        "embedding_standardized": """
            WITH pos AS (
                SELECT unnest(range(1, 65)) AS d, e.embedding
                FROM embeddings e
            ), moments AS (
                SELECT d,
                       sum(CAST(embedding[d]::DOUBLE
                                AS DECIMAL(28,8))) AS s,
                       sum(CAST(embedding[d]::DOUBLE
                                * embedding[d]::DOUBLE
                                AS DECIMAL(28,8))) AS s2,
                       count(*) AS n
                FROM pos GROUP BY d
            ), stats AS (
                SELECT d,
                       CAST(s AS DOUBLE) / n AS m,
                       sqrt(greatest(
                           CAST(s2 AS DOUBLE) / n
                           - (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n), 0.0)) AS sd
                FROM moments
            ), arrays AS (
                SELECT list(m ORDER BY d) AS ms,
                       list(sd ORDER BY d) AS sds
                FROM stats
            )
            SELECT e.vec_id, i.d,
                   round((e.embedding[i.d]::DOUBLE - a.ms[i.d])
                         / (a.sds[i.d] + CAST(1e-9 AS DOUBLE)), 6)
                       AS std_value
            FROM embeddings e CROSS JOIN arrays a
            CROSS JOIN (SELECT unnest(range(1, 65)) AS d) i
        """,
        "event_drift": """
            WITH ref AS (
                SELECT event_type, CAST(value AS DOUBLE) AS v
                FROM events
                WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL
            ), cur AS (
                SELECT event_type, CAST(value AS DOUBLE) AS v
                FROM events
                WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL
            ), extent AS (
                SELECT event_type, min(v) AS lo, max(v) AS hi
                FROM ref GROUP BY event_type
            ), ca AS (
                SELECT r.event_type,
                       CAST(CASE WHEN e.hi = e.lo THEN 0 ELSE
                           greatest(least(floor((r.v - e.lo)
                               / (e.hi - e.lo) * 10), 9), 0)
                       END AS INT) AS bin,
                       count(*) AS n
                FROM ref r JOIN extent e ON r.event_type = e.event_type
                GROUP BY 1, 2
            ), cb AS (
                SELECT c.event_type,
                       CAST(CASE WHEN e.hi = e.lo THEN 0 ELSE
                           greatest(least(floor((c.v - e.lo)
                               / (e.hi - e.lo) * 10), 9), 0)
                       END AS INT) AS bin,
                       count(*) AS n
                FROM cur c JOIN extent e ON c.event_type = e.event_type
                GROUP BY 1, 2
            ), grid AS (
                SELECT event_type, unnest(range(0, 10)) AS bin
                FROM extent
            ), cells AS (
                SELECT g.event_type, g.bin,
                       coalesce(a.n, 0) AS na, coalesce(b.n, 0) AS nb
                FROM grid g
                LEFT JOIN ca a ON g.event_type = a.event_type
                              AND g.bin = a.bin
                LEFT JOIN cb b ON g.event_type = b.event_type
                              AND g.bin = b.bin
            ), tot AS (
                SELECT event_type, CAST(sum(na) AS BIGINT) AS tna,
                       CAST(sum(nb) AS BIGINT) AS tnb
                FROM cells GROUP BY event_type
            ), psi AS (
                SELECT c.event_type, t.tna AS n_ref, t.tnb AS n_cur,
                       round(sum(
                           ((c.nb + 0.5) / (t.tnb + 0.5 * 10)
                            - (c.na + 0.5) / (t.tna + 0.5 * 10))
                           * ln(((c.nb + 0.5) / (t.tnb + 0.5 * 10))
                                / ((c.na + 0.5) / (t.tna + 0.5 * 10)))
                       ), 6) AS psi
                FROM cells c JOIN tot t ON c.event_type = t.event_type
                GROUP BY c.event_type, t.tna, t.tnb
            )
            SELECT event_type, n_ref, n_cur, psi,
                   CASE WHEN psi < 0.1 THEN 'stable'
                        WHEN psi < 0.25 THEN 'moderate'
                        ELSE 'major' END AS verdict
            FROM psi
        """,
        "retrieval_metrics": """
            WITH cand AS (
                SELECT source AS q, doc_id AS d,
                       CAST(n_chars AS DOUBLE) / 997 AS s,
                       CASE WHEN lang = 'en' THEN 2
                            WHEN n_chars >= 350 THEN 1
                            ELSE 0 END AS rel
                FROM documents
            ), ranked AS (
                SELECT q, d, rel,
                       row_number() OVER (PARTITION BY q
                                          ORDER BY s DESC, d) AS pos,
                       row_number() OVER (PARTITION BY q
                                          ORDER BY rel DESC, d) AS ipos
                FROM cand
            ), agg AS (
                SELECT q,
                       list_sum(list((power(2.0, rel) - 1)
                                     / log2(pos + 1) ORDER BY pos)
                                FILTER (pos <= 10)) AS dcg,
                       list_sum(list((power(2.0, rel) - 1)
                                     / log2(ipos + 1) ORDER BY ipos)
                                FILTER (ipos <= 10)) AS idcg,
                       min(pos) FILTER (pos <= 10 AND rel > 0) AS fr
                FROM ranked
                WHERE pos <= 10 OR ipos <= 10
                GROUP BY q
            )
            SELECT q AS source,
                   CASE WHEN idcg > 0
                        THEN round(dcg / idcg, 6) END AS ndcg,
                   coalesce(round(1.0 / fr, 6), 0.0) AS mrr,
                   CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM agg
        """,
        "dsir_weights": """
            WITH t AS (
                SELECT doc_id, (lang = 'en') AS tgt,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), featl AS (
                SELECT doc_id, tgt,
                       list_concat(toks, list_transform(
                           range(1, greatest(length(toks) - 1, 0) + 1),
                           i -> toks[i] || ' ' || toks[i + 1])) AS fs
                FROM t
            ), feats AS (
                SELECT doc_id, tgt,
                       ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096
                           AS b,
                       count(*) AS cnt
                FROM (SELECT doc_id, tgt, unnest(fs) AS f FROM featl)
                GROUP BY doc_id, tgt, b
            ), buckets AS (
                SELECT b,
                       CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END)
                            AS BIGINT) AS ct,
                       CAST(sum(cnt) AS BIGINT) AS cs
                FROM feats GROUP BY b
            ), tot AS (
                SELECT CAST(sum(ct) AS BIGINT) AS tt,
                       CAST(sum(cs) AS BIGINT) AS ss
                FROM buckets
            ), dims AS (
                SELECT b,
                       ln((ct + CAST(1.0 AS DOUBLE))
                          / (tt + CAST(4096.0 AS DOUBLE)))
                       - ln((cs + CAST(1.0 AS DOUBLE))
                            / (ss + CAST(4096.0 AS DOUBLE))) AS lr
                FROM buckets CROSS JOIN tot
            )
            SELECT f.doc_id,
                   CAST(sum(f.cnt) AS BIGINT) AS n_feats,
                   round(sum(f.cnt * d.lr), 6) AS log_weight
            FROM feats f JOIN dims d ON f.b = d.b
            GROUP BY f.doc_id
        """,
        "winnow_fingerprints": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), hs AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(length(toks) - 2, 1) + 1),
                           i -> md5(array_to_string(toks[i:i+2], ' ')))
                           AS hs
                FROM t
            ), rows_ AS (
                SELECT doc_id, length(hs) AS n,
                       unnest(list_transform(range(1, length(hs) + 1),
                           i -> struct_pack(p := i - 1, h := hs[i]))) AS u
                FROM hs
            ), wins AS (
                SELECT doc_id, u.p AS p, u.h AS h,
                       unnest(range(greatest(u.p - 3, 0),
                                    least(u.p, greatest(n - 4, 0)) + 1))
                           AS s
                FROM rows_
            ), picked AS (
                SELECT doc_id, s, h, p,
                       row_number() OVER (PARTITION BY doc_id, s
                                          ORDER BY h, p DESC) AS rn
                FROM wins
            )
            SELECT DISTINCT doc_id, p AS pos, h AS fingerprint
            FROM picked WHERE rn = 1
        """,
        "length_batches": """
            WITH base AS (
                SELECT doc_id AS id,
                       length(regexp_split_to_array(trim(text), '\\s+'))
                           AS n_tok
                FROM documents
            ), a AS (
                SELECT id, n_tok,
                       CAST(floor(n_tok / 16) AS BIGINT) AS bucket,
                       (((((((id) % 1000003 + 1000003) % 1000003) * 2654435767 + 40506) % 1000000007) % 1000003) * 2654435761 + 40503) % 1000000007 AS h
                FROM base
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY bucket
                                             ORDER BY h, id) AS rn
                FROM a
            )
            SELECT bucket,
                   CAST(floor((rn - 1) / 8) AS BIGINT) AS batch_index,
                   count(*) AS n_docs,
                   max(n_tok) AS max_tokens,
                   CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
                   round(1.0 - CAST(sum(n_tok) AS BIGINT)
                         / (max(n_tok)::DOUBLE * count(*)), 6)
                       AS pad_frac
            FROM r GROUP BY bucket, floor((rn - 1) / 8)
        """,
        "doc_bigram_logprob": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents
            ), uni AS (
                SELECT term, count(*) AS cu FROM (
                    SELECT unnest(toks) AS term FROM t) GROUP BY term
            ), tot AS (
                SELECT CAST(sum(cu) AS BIGINT) AS u FROM uni
            ), bgr AS (
                SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2,
                       count(*) AS tf
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(1, greatest(length(toks) - 1, 0) + 1),
                               i -> struct_pack(w1 := toks[i],
                                                w2 := toks[i + 1]))) AS bg
                    FROM t)
                GROUP BY doc_id, bg.w1, bg.w2
            ), cbi AS (
                SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cb
                FROM bgr GROUP BY w1, w2
            )
            SELECT b.doc_id,
                   CAST(sum(b.tf) AS BIGINT) AS n_bigrams,
                   round(sum(b.tf * ln(0.75 * c.cb / u1.cu
                                       + 0.25 * u2.cu
                                         / (SELECT u FROM tot)))
                         / sum(b.tf), 6) AS logprob
            FROM bgr b
            JOIN cbi c ON b.w1 = c.w1 AND b.w2 = c.w2
            JOIN uni u1 ON b.w1 = u1.term
            JOIN uni u2 ON b.w2 = u2.term
            GROUP BY b.doc_id
        """,
        "winsorized_values": """
            WITH b AS (
                SELECT event_type,
                       quantile_cont(value, 0.05) AS plo,
                       quantile_cont(value, 0.95) AS phi
                FROM events WHERE value IS NOT NULL
                GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   round(b.plo, 6) AS p_lo,
                   round(b.phi, 6) AS p_hi,
                   round(least(greatest(e.value, b.plo), b.phi), 6)
                       AS value_w
            FROM events e JOIN b USING (event_type)
            WHERE e.value IS NOT NULL
        """,
        "weekly_active_by_type": """
            WITH a AS (
                SELECT DISTINCT event_type, user_id,
                       epoch_us(ts) // 86400000000 AS d
                FROM events
            ), s AS (
                SELECT event_type, min(d) AS lo, max(d) AS hi
                FROM a GROUP BY event_type
            ), v AS (
                SELECT a.event_type, a.user_id,
                       unnest(range(a.d, least(a.d + 6, s.hi) + 1)) AS w
                FROM a JOIN s USING (event_type)
            ), c AS (
                SELECT event_type, w, count(DISTINCT user_id) AS n
                FROM v GROUP BY event_type, w
            ), g AS (
                SELECT event_type, unnest(range(lo, hi + 1)) AS w FROM s
            )
            SELECT g.event_type,
                   make_timestamp(g.w * 86400000000) AS day,
                   coalesce(c.n, 0) AS n_active
            FROM g LEFT JOIN c USING (event_type, w)
        """,
        "top_journey_paths": """
            WITH r AS (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ), p AS (
                SELECT user_id,
                       string_agg(event_type, '>' ORDER BY rn) AS path
                FROM r WHERE rn <= 3 GROUP BY user_id
            ), c AS (
                SELECT path, count(*) AS n_users FROM p GROUP BY path
                ORDER BY n_users DESC, path LIMIT 10
            )
            SELECT path, n_users,
                   row_number() OVER (ORDER BY n_users DESC, path)
                       AS rank
            FROM c
        """,
        "weekly_active_users": """
            WITH a AS (
                SELECT DISTINCT user_id,
                       epoch_us(ts) // 86400000000 AS d
                FROM events
            ), s AS (
                SELECT min(d) AS lo, max(d) AS hi FROM a
            ), v AS (
                SELECT user_id,
                       unnest(range(d, least(d + 6,
                                             (SELECT hi FROM s)) + 1))
                           AS w
                FROM a
            ), c AS (
                SELECT w, count(DISTINCT user_id) AS n
                FROM v GROUP BY w
            ), g AS (
                SELECT unnest(range(lo, hi + 1)) AS w FROM s
            )
            SELECT make_timestamp(w * 86400000000) AS day,
                   coalesce(c.n, 0) AS n_active
            FROM g LEFT JOIN c USING (w)
        """,
        "disjunctive_revenue": """
            SELECT p_brand, count(*) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12'
                   AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
               OR (p_brand = 'Brand#23'
                   AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
               OR (p_brand = 'Brand#34'
                   AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
            GROUP BY p_brand
        """,
        "late_sole_suppliers": """
            WITH per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN l_shipdate >
                                 o_orderdate + INTERVAL 60 DAY
                             THEN l_suppkey END) AS n_late,
                       min(CASE WHEN l_shipdate >
                                 o_orderdate + INTERVAL 60 DAY
                           THEN l_suppkey END) AS late_supp
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY l_orderkey
            )
            SELECT s_name, count(*) AS numwait
            FROM per_order JOIN supplier ON late_supp = s_suppkey
            WHERE n_supp >= 2 AND n_late = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 25
        """,
        "tolerant_arithmetic": """
            SELECT event_id,
                   CASE WHEN user_id % 3 = 0 THEN NULL
                        ELSE round(value / (user_id % 3), 6)
                   END AS safe_div,
                   CASE WHEN event_id > 0 THEN NULL
                        ELSE 9223372036854775807 + event_id
                   END AS safe_add,
                   TRY_CAST('2024-01-' || lpad(CAST(user_id % 40
                                               AS VARCHAR), 2, '0')
                            AS TIMESTAMP) AS safe_ts
            FROM events
        """,
        "lineitem_unpivot": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                   l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                   l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
            FROM lineitem
        """,
        "null_safe_join": """
            WITH a AS (
                SELECT nullif(user_id % 7, 0) AS k,
                       count(*) AS n_ok,
                       round(sum(value), 2) AS sum_ok
                FROM events WHERE event_type <> 'error'
                GROUP BY nullif(user_id % 7, 0)
            ), b AS (
                SELECT nullif(user_id % 7, 0) AS k, count(*) AS n_err
                FROM events WHERE event_type = 'error'
                GROUP BY nullif(user_id % 7, 0)
            )
            SELECT a.k, a.n_ok, a.sum_ok, b.n_err
            FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        """,
        "order_value_ranks": """
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
        """,
        # brute-force time-banded self-join: proves the (time bucket,
        # cell cover) equi-join loses no qualifying pair
        "close_encounters": """
            WITH p AS (
                SELECT event_id, user_id, ts,
                       ((event_id * 7919) % 14000) / 100.0 - 70.0 AS lat,
                       ((event_id * 104729) % 34000) / 100.0 - 170.0 AS lon
                FROM events
            ), cand AS (
                SELECT a.event_id AS id_a, b.event_id AS id_b,
                       a.user_id AS obj_a, b.user_id AS obj_b,
                       (epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0
                           AS dt_sec,
                       2 * 6371.0088 * asin(sqrt(
                           sin(radians(b.lat - a.lat) / 2)
                             * sin(radians(b.lat - a.lat) / 2)
                           + cos(radians(a.lat)) * cos(radians(b.lat))
                             * sin(radians(b.lon - a.lon) / 2)
                             * sin(radians(b.lon - a.lon) / 2)
                       )) AS dist
                FROM p a JOIN p b
                  ON a.event_id < b.event_id
                 AND a.user_id <> b.user_id
                 AND abs(epoch_us(b.ts) - epoch_us(a.ts))
                     <= CAST(7200 AS BIGINT) * 1000000
            )
            SELECT id_a, id_b, obj_a, obj_b, dt_sec,
                   round(dist, 2) AS distance_km
            FROM cand WHERE dist <= 2000.0
        """,
        "points_in_radius": """
            WITH p AS (
                SELECT event_id,
                       ((event_id * 7919) % 14000) / 100.0 - 70.0 AS lat,
                       ((event_id * 104729) % 34000) / 100.0 - 170.0 AS lon
                FROM events
            ), c(center_id, clat, clon) AS (VALUES
                """ + ",\n                ".join(
                    f"({i}, {la!r}, {lo!r})" for i, la, lo in _GEO_CENTERS
                ) + """
            ), d AS (
                SELECT event_id, center_id,
                       2 * 6371.0088 * asin(sqrt(
                           sin(radians(clat - lat) / 2)
                             * sin(radians(clat - lat) / 2)
                           + cos(radians(lat)) * cos(radians(clat))
                             * sin(radians(clon - lon) / 2)
                             * sin(radians(clon - lon) / 2)
                       )) AS dist
                FROM p, c
            )
            SELECT event_id, center_id, round(dist, 2) AS distance_km
            FROM d WHERE dist <= 200.0
        """,
        "session_funnel": f"""
            WITH sess AS (
                SELECT event_id, user_id, ts, event_type,
                       CAST(sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM (
                    SELECT *,
                           CASE WHEN lag(epoch_us(ts)) OVER (
                                    PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                    PARTITION BY user_id
                                    ORDER BY ts, event_id) > 1800000000
                                THEN 1 ELSE 0 END AS new_sess
                    FROM events
                )
            ), s1 AS (
                SELECT user_id, session_id, min(ts) AS t FROM sess
                WHERE event_type = '{FUNNEL_STEPS[0]}'
                GROUP BY user_id, session_id
            ), s2 AS (
                SELECT e.user_id, e.session_id, min(e.ts) AS t
                FROM sess e JOIN s1 ON e.user_id = s1.user_id
                                   AND e.session_id = s1.session_id
                WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t
                GROUP BY e.user_id, e.session_id
            ), s3 AS (
                SELECT e.user_id, e.session_id, min(e.ts) AS t
                FROM sess e JOIN s2 ON e.user_id = s2.user_id
                                   AND e.session_id = s2.session_id
                WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t
                GROUP BY e.user_id, e.session_id
            )
            SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS step_name,
                   (SELECT count(*) FROM s1) AS n_sessions
            UNION ALL
            SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3)
        """,
        "line_dedup_docs": """
            WITH docs2 AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN
                                'NEWSLETTER SIGNUP' || chr(10) || text
                                || chr(10) || 'COPYRIGHT 2026 EXAMPLE CORP'
                            WHEN doc_id % 3 = 1 THEN
                                'NEWSLETTER SIGNUP' || chr(10) || text
                            ELSE text END AS text
                FROM documents
            ), idx AS (
                SELECT doc_id, str_split(text, chr(10)) AS arr,
                       unnest(range(1, len(str_split(text, chr(10))) + 1))
                           AS pos
                FROM docs2
            ), lines AS (
                SELECT doc_id, pos, arr[pos] AS line FROM idx
            ), freq AS (
                SELECT line, count(DISTINCT doc_id) AS doc_freq
                FROM lines GROUP BY line
            ), flagged AS (
                SELECT l.doc_id, l.pos, l.line,
                       (f.doc_freq > 50) AS dropped
                FROM lines l JOIN freq f USING (line)
            )
            SELECT doc_id,
                   count(*) AS n_lines,
                   CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_removed,
                   coalesce(
                       string_agg(line, chr(10) ORDER BY pos)
                           FILTER (WHERE NOT dropped),
                       '') AS text
            FROM flagged GROUP BY doc_id
        """,
        "concurrent_sessions": """
            WITH sess AS (
                SELECT event_id, user_id, ts,
                       CAST(sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM (
                    SELECT *,
                           CASE WHEN lag(epoch_us(ts)) OVER (
                                    PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                    PARTITION BY user_id
                                    ORDER BY ts, event_id) > 1800000000
                                THEN 1 ELSE 0 END AS new_sess
                    FROM events
                )
            ), s AS (
                SELECT user_id, session_id,
                       min(epoch_us(ts)) AS st, max(epoch_us(ts)) AS en
                FROM sess GROUP BY user_id, session_id
            )
            SELECT a.user_id AS user_a, a.session_id AS session_a,
                   b.user_id AS user_b, b.session_id AS session_b,
                   a.st AS start_a, a.en AS end_a,
                   b.st AS start_b, b.en AS end_b,
                   round((least(a.en, b.en) - greatest(a.st, b.st))
                         / 1000000.0, 6) AS overlap_sec
            FROM s a JOIN s b
              ON a.st <= b.en AND b.st <= a.en
             AND (a.user_id, a.session_id) < (b.user_id, b.session_id)
        """,
        "dau_wau_stickiness": """
            WITH a AS (
                SELECT DISTINCT user_id,
                       epoch_us(ts) // 86400000000 AS d
                FROM events
            ), s AS (
                SELECT min(d) AS lo, max(d) AS hi FROM a
            ), v AS (
                SELECT user_id,
                       unnest(range(d, least(d + 6,
                                             (SELECT hi FROM s)) + 1))
                           AS w
                FROM a
            ), wau AS (
                SELECT w, count(DISTINCT user_id) AS n
                FROM v GROUP BY w
            ), dau AS (
                SELECT d AS w, count(DISTINCT user_id) AS n
                FROM a GROUP BY d
            ), g AS (
                SELECT unnest(range(lo, hi + 1)) AS w FROM s
            )
            SELECT make_timestamp(w * 86400000000) AS day,
                   coalesce(dau.n, 0) AS n_dau,
                   coalesce(wau.n, 0) AS n_wau,
                   CASE WHEN coalesce(wau.n, 0) > 0 THEN
                       round(CAST(coalesce(dau.n, 0) AS DOUBLE)
                             / CAST(wau.n AS DOUBLE), 6)
                   END AS stickiness
            FROM g LEFT JOIN wau USING (w) LEFT JOIN dau USING (w)
        """,
        "duplicate_text_spans": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 3, 0) + 1)) AS p
                FROM toks
            ), sh AS (
                SELECT doc_id, p,
                       array_to_string(t[p:p+3], ' ') AS s
                FROM pos
            ), freq AS (
                SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh)
                GROUP BY s HAVING count(*) >= 3
            ), hits AS (
                SELECT doc_id, p FROM sh JOIN freq USING (s)
            ), isl AS (
                SELECT doc_id, p,
                       CASE WHEN p - lag(p) OVER (
                                PARTITION BY doc_id ORDER BY p) <= 4
                            THEN 0 ELSE 1 END AS nr
                FROM hits
            ), runs AS (
                SELECT doc_id, p,
                       sum(nr) OVER (PARTITION BY doc_id ORDER BY p
                                     ROWS UNBOUNDED PRECEDING) AS r
                FROM isl
            )
            SELECT doc_id,
                   min(p) AS span_start,
                   max(p) + 3 AS span_end,
                   max(p) + 3 - min(p) + 1 AS span_tokens,
                   count(*) AS n_shingles
            FROM runs GROUP BY doc_id, r
        """,
        "data_expectations": """
            WITH m AS (
                SELECT count(*) AS n_rows,
                       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0
                                END) AS DOUBLE) / count(*) AS null_frac,
                       min(value) AS vmin,
                       max(value) AS vmax,
                       CAST(sum(CASE WHEN event_type IS NOT NULL
                                  AND event_type NOT IN
                                  ('view','click','purchase',
                                   'signup','error')
                                THEN 1 ELSE 0 END) AS DOUBLE)
                       / sum(CASE WHEN event_type IS NOT NULL
                             THEN 1 ELSE 0 END) AS other_frac,
                       1.0 - CAST(count(DISTINCT event_id) AS DOUBLE)
                           / sum(CASE WHEN event_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS dup_frac
                FROM events
            )
            SELECT 'value_not_null' AS rule, 'not_null' AS rule_type,
                   'value' AS "column",
                   round(null_frac, 6) AS metric, CAST(0.02 AS DOUBLE) AS threshold,
                   round(null_frac, 6) <= 0.02 AS passed
            FROM m
            UNION ALL
            SELECT 'value_min', 'min_value', 'value',
                   round(vmin, 6), CAST(1.0 AS DOUBLE), round(vmin, 6) >= 1.0 FROM m
            UNION ALL
            SELECT 'value_max', 'max_value', 'value',
                   round(vmax, 6), CAST(1000000.0 AS DOUBLE),
                   round(vmax, 6) <= 1000000.0 FROM m
            UNION ALL
            SELECT 'known_types', 'accepted', 'event_type',
                   round(other_frac, 6), CAST(0.0 AS DOUBLE),
                   round(other_frac, 6) <= 0.0 FROM m
            UNION ALL
            SELECT 'event_id_unique', 'unique', 'event_id',
                   round(dup_frac, 6), CAST(0.0 AS DOUBLE),
                   round(dup_frac, 6) <= 0.0 FROM m
            UNION ALL
            SELECT 'enough_rows', 'row_count_min',
                   CAST(NULL AS VARCHAR),
                   round(CAST(n_rows AS DOUBLE), 6), CAST(1000.0 AS DOUBLE),
                   CAST(n_rows AS DOUBLE) >= 1000 FROM m
        """,
        "stripped_duplicate_spans": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 3, 0) + 1)) AS p
                FROM toks
            ), sh AS (
                SELECT doc_id, p,
                       array_to_string(t[p:p+3], ' ') AS s
                FROM pos
            ), freq AS (
                SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh)
                GROUP BY s HAVING count(*) >= 3
            ), hits AS (
                SELECT doc_id, p FROM sh JOIN freq USING (s)
            ), cover AS (
                SELECT DISTINCT doc_id, unnest(range(p, p + 4)) AS tp
                FROM hits
            ), tpos AS (
                SELECT doc_id, t,
                       unnest(range(1, len(t) + 1)) AS tp
                FROM toks
            ), tokrel AS (
                SELECT doc_id, tp, t[tp] AS tok FROM tpos
            ), flagged AS (
                SELECT k.doc_id, k.tp, k.tok,
                       (c.tp IS NOT NULL) AS cov
                FROM tokrel k LEFT JOIN cover c
                  ON k.doc_id = c.doc_id AND k.tp = c.tp
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed,
                   coalesce(
                       string_agg(tok, ' ' ORDER BY tp)
                           FILTER (WHERE NOT cov),
                       '') AS text
            FROM flagged GROUP BY doc_id
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   count(*) AS n_items,
                   round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(28,8))) AS DOUBLE), 2)
                       AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "forecast_revenue": """
            SELECT count(*) AS n_items,
                   round(CAST(sum(CAST(l_extendedprice * l_discount
                                       AS DECIMAL(28,8))) AS DOUBLE), 2)
                       AS lost_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "shipping_priority": """
            SELECT l_orderkey,
                   round(CAST(rev AS DOUBLE), 2) AS revenue,
                   o_orderdate, o_orderpriority
            FROM (
                SELECT l_orderkey, o_orderdate, o_orderpriority,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(28,8))) AS rev
                FROM customer
                JOIN orders   ON c_custkey = o_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
                WHERE c_mktsegment = 'BUILDING'
                  AND o_orderdate < TIMESTAMP '1998-03-15'
                  AND l_shipdate  > TIMESTAMP '1998-03-15'
                GROUP BY l_orderkey, o_orderdate, o_orderpriority
            )
            ORDER BY rev DESC, l_orderkey
            LIMIT 10
        """,
        "returned_item_losses": """
            WITH per_cust AS (
                SELECT o_custkey,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(28,8))) AS rev
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                WHERE l_returnflag = 'R'
                  AND o_orderdate >= TIMESTAMP '1997-10-01'
                  AND o_orderdate <  TIMESTAMP '1998-01-01'
                GROUP BY o_custkey
            )
            SELECT c_custkey, c_name, c_acctbal,
                   n_name AS nation,
                   round(CAST(rev AS DOUBLE), 2) AS lost_revenue
            FROM per_cust
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            ORDER BY rev DESC, c_custkey
            LIMIT 20
        """,
        "customer_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders
                  ON c_custkey = o_custkey
                 AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "top_supplier_revenue": """
            WITH r AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(28,8))) AS rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name,
                   round(CAST(rev AS DOUBLE), 2) AS total_revenue
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev = (SELECT max(rev) FROM r)
        """,
        "large_order_customers": """
            WITH big AS (
                SELECT l_orderkey, sum(l_quantity) AS sum_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING sum(l_quantity) > 300
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty
            FROM orders
            JOIN big      ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "idle_rich_customers": """
            WITH t AS (
                SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,8)))
                            AS DOUBLE) AS s,
                       count(*) AS n
                FROM customer WHERE c_acctbal > 0
            )
            SELECT c_mktsegment,
                   count(*) AS n_custs,
                   round(sum(c_acctbal), 2) AS total_acctbal
            FROM customer c CROSS JOIN t
            WHERE c.c_acctbal * t.n > t.s
              AND NOT EXISTS (
                  SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-06-01')
            GROUP BY c_mktsegment
        """,
        "cheapest_supplier_per_part": """
            WITH costed AS (
                SELECT l_partkey, p_name, l_suppkey,
                       round(l_extendedprice / l_quantity, 6) AS unit_cost,
                       row_number() OVER (
                           PARTITION BY l_partkey
                           ORDER BY round(l_extendedprice / l_quantity, 6),
                                    l_suppkey) AS rn
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_size <= 2
            )
            SELECT l_partkey AS p_partkey, p_name,
                   l_suppkey AS cheapest_suppkey, s_name, unit_cost
            FROM costed JOIN supplier ON l_suppkey = s_suppkey
            WHERE rn = 1
        """,
        "event_correlations": """
            SELECT event_type,
                   count(*) AS n,
                   round(corr(value, CAST(hour(ts) AS DOUBLE)), 6)
                       AS corr_vh,
                   round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 6)
                       AS covar_vh,
                   round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 6)
                       AS slope,
                   round(regr_intercept(value,
                                        CAST(hour(ts) AS DOUBLE)), 6)
                       AS intercept,
                   round(regr_r2(value, CAST(hour(ts) AS DOUBLE)), 6)
                       AS r2
            FROM events
            WHERE value IS NOT NULL
            GROUP BY event_type
        """,
        "weekly_growth": """
            WITH weekly AS (
                SELECT epoch_us(o_orderdate) // 604800000000 AS week_idx,
                       round(sum(o_totalprice), 2) AS revenue,
                       count(*) AS n_orders
                FROM orders
                GROUP BY epoch_us(o_orderdate) // 604800000000
            )
            SELECT week_idx, n_orders, revenue,
                   round(lag(revenue) OVER (ORDER BY week_idx), 2)
                       AS prev_revenue,
                   round((revenue - lag(revenue) OVER (ORDER BY week_idx))
                         / lag(revenue) OVER (ORDER BY week_idx), 6)
                       AS wow_growth
            FROM weekly
        """,
        "trade_volume_pairs": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   count(*) AS n_items,
                   round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(28,8))) AS DOUBLE), 2)
                       AS revenue
            FROM lineitem
            JOIN supplier  ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name IN ('NATION_1', 'NATION_2')
              AND n2.n_name IN ('NATION_1', 'NATION_2')
              AND n1.n_name <> n2.n_name
            GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        """,
    })


def _alias_oracles(oracles: dict[str, str]) -> dict[str, str]:
    """Queries that re-compute another contract by a different physical
    algorithm share its oracle verbatim (same answer is the point)."""
    oracles["neardup_clusters_star"] = oracles["neardup_clusters"]
    # ANN recall family: |approx ∩ exact| / |exact| per query,
    # composed from the two neighbor-list oracles each arm grades
    # (all closed-form) — one recall contract per ladder dial so a
    # regression in ANY index arm lands a driver hash
    def recall_oracle(approx_key: str, exact_where: str = "") -> str:
        return f"""
        WITH exact_all AS ({oracles['embedding_topk']}),
        exact_nb AS (SELECT * FROM exact_all {exact_where}),
        approx_nb AS ({oracles[approx_key]}),
        ne AS (
            SELECT query_id, count(*) AS n_exact
            FROM exact_nb GROUP BY query_id
        ), nc AS (
            SELECT e.query_id, count(*) AS n_common
            FROM exact_nb e
            JOIN approx_nb a
              ON e.query_id = a.query_id
             AND e.neighbor_id = a.neighbor_id
            GROUP BY e.query_id
        )
        SELECT ne.query_id, ne.n_exact,
               coalesce(nc.n_common, 0) AS n_common,
               round(coalesce(nc.n_common, 0)
                     / CAST(ne.n_exact AS DOUBLE), 6) AS recall
        FROM ne LEFT JOIN nc ON ne.query_id = nc.query_id
    """

    oracles["ann_recall_ivf"] = recall_oracle("embedding_ivf_topk")
    oracles["ann_recall_lsh"] = recall_oracle("embedding_lsh_topk")
    oracles["ann_recall_ivfpq"] = recall_oracle("embedding_ivfpq_topk")
    oracles["ann_recall_int8"] = recall_oracle("embedding_quantized_topk")
    # the PQ arm's contract query evals 3 queries where the others
    # eval 5 — the exact arm filters to the same set (recall is only
    # defined for queries the approximate arm searched)
    oracles["ann_recall_pq"] = recall_oracle(
        "embedding_pq_topk", "WHERE query_id < 3")
    # append-then-search is bit-identical to build-once-then-search
    # (per-row deterministic assignment/encoding), so the incremental
    # IVFPQ contract replays the FULL-corpus IVFPQ oracle verbatim
    oracles["ivfpq_append_topk"] = oracles["embedding_ivfpq_topk"]
    # the epoch manifest composes ON TOP of the water-filling replay:
    # floor(epochs) full copies + a fractional extra copy by the same
    # deterministic hash draw, range-expanded
    oracles["unimax_epoch_manifest"] = f"""
        WITH alloc AS ({oracles['unimax_allocation']}),
        j AS (
            SELECT d.doc_id, d.source, a.epochs,
                   CAST(floor(a.epochs) AS BIGINT) AS nfull,
                   a.epochs - floor(a.epochs) AS frac,
                   CAST(({_sampling.portable_hash_seeded_sql(
                       "d.doc_id", 11)}) AS DOUBLE)
                       / 1000000007.0 AS u
            FROM documents d JOIN alloc a USING (source)
            WHERE a.epochs IS NOT NULL
        ), copies AS (
            SELECT doc_id, source, epochs,
                   nfull + (CASE WHEN
                       CAST(floor(u * 1e9 + 0.5) AS DECIMAL(38,0))
                       < CAST(floor(frac * 1e9 + 0.5)
                              AS DECIMAL(38,0))
                       THEN 1 ELSE 0 END) AS nc
            FROM j
        )
        SELECT doc_id, source,
               unnest(range(1, nc + 1)) AS epoch_idx, epochs
        FROM copies WHERE nc >= 1
    """
    # the GPT-3 acceptance rule composes ON TOP of the classifier
    # replay: deterministic seeded uniform -> Pareto inverse-CDF ->
    # 1e-9-quantized integer compare against 1 - prob
    oracles["classifier_pareto_sample"] = f"""
        WITH base AS ({oracles['quality_classifier_scores']}),
        drawn AS (
            SELECT *,
                   pow(1.0 - CAST(({_sampling.portable_hash_seeded_sql(
                                       "doc_id", 1)})
                                  AS DOUBLE) / 1000000007.0,
                       -1.0 / 9.0) - 1.0 AS par
            FROM base
        )
        SELECT doc_id, n_units, score, prob,
               round(par, 6) AS pareto,
               CAST(floor(par * 1e9 + 0.5) AS DECIMAL(38,0))
                   > CAST(floor((1.0 - prob) * 1e9 + 0.5)
                          AS DECIMAL(38,0)) AS kept
        FROM drawn
    """
    # the eval queries rank/bin the SAME scored relation: the dsir
    # oracle composed with the logistic squash and the language label
    scored = f"""
        WITH w AS ({oracles['dsir_weights']}),
        scored AS (
            SELECT d.source AS source,
                   1.0 / (1.0 + exp(-(w.log_weight) / 10.0)) AS s,
                   (d.lang = 'en') AS y
            FROM w JOIN documents d ON w.doc_id = d.doc_id
        )"""
    oracles["dsir_auc"] = scored + """
        , rnk AS (
            SELECT s, y, row_number() OVER (ORDER BY s) AS rn
            FROM scored
        ), tie AS (
            SELECT s, avg(rn) AS ravg FROM rnk GROUP BY s
        ), agg AS (
            SELECT CAST(sum(CASE WHEN r.y THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                   CAST(sum(CASE WHEN r.y THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_neg,
                   sum(CASE WHEN r.y THEN t.ravg END) AS rsum
            FROM rnk r JOIN tie t ON r.s = t.s
        )
        SELECT n_pos, n_neg,
               round((rsum - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
                     / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
        FROM agg
    """
    # per-source AUC: the identical rank-sum replay, PARTITIONED by
    # the crawl source (single-class sources -> NULL, like try_divide)
    # — composed from the SAME scored CTE as dsir_auc/dsir_calibration
    # (r8 verdict ask #7: the r8 oracle duplicated the whole chain)
    oracles["dsir_auc_by_source"] = scored + """
        , rnk AS (
            SELECT source, s, y,
                   row_number() OVER (PARTITION BY source ORDER BY s)
                       AS rn
            FROM scored
        ), tie AS (
            SELECT source, s, avg(rn) AS ravg
            FROM rnk GROUP BY source, s
        ), agg AS (
            SELECT r.source,
                   CAST(sum(CASE WHEN r.y THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                   CAST(sum(CASE WHEN r.y THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_neg,
                   sum(CASE WHEN r.y THEN t.ravg END) AS rsum
            FROM rnk r
            JOIN tie t ON r.source = t.source AND r.s = t.s
            GROUP BY r.source
        )
        SELECT source, n_pos, n_neg,
               CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                    ELSE round((rsum - CAST(n_pos AS DOUBLE)
                                * (n_pos + 1) / 2)
                               / (CAST(n_pos AS DOUBLE) * n_neg), 6)
               END AS auc
        FROM agg
    """
    oracles["dsir_calibration"] = scored + """
        SELECT CAST(CASE WHEN floor(s * 10) > 9 THEN 9
                    ELSE floor(s * 10) END AS INT) AS bin,
               count(*) AS n,
               round(avg(s), 6) AS confidence,
               round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END), 6)
                   AS accuracy
        FROM scored
        GROUP BY 1
    """
    # the signals table is the literal composition of four component
    # oracles joined on the primary key
    oracles["doc_signals"] = f"""
        WITH q AS ({oracles['doc_quality']}),
             e AS ({oracles['doc_entropy']}),
             r AS ({oracles['doc_repetition_stats']}),
             g AS ({oracles['gopher_quality']})
        SELECT q.doc_id, q.q_n_chars, q.q_n_tokens, q.q_mean_token_len,
               q.q_punct_ratio, q.q_upper_ratio, q.q_stopword_ratio,
               q.q_quality_score, e.entropy, r.top_frac, r.dup_frac,
               g.gopher_pass
        FROM q
        JOIN e ON q.doc_id = e.doc_id
        JOIN r ON q.doc_id = r.doc_id
        JOIN g ON q.doc_id = g.doc_id
    """
    # triangles close wedges over the SAME pair graph the ngram oracle
    # defines (identical params) — semantic reuse, not duplication
    oracles["neardup_triangles"] = f"""
        WITH pairs AS ({oracles["ngram_jaccard_dups"]})
        SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
        FROM pairs p1
        JOIN pairs p2 ON p1.id_b = p2.id_a
        JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
    """
    # survivors = same transitive closure, keep-iff-min final filter
    closure = oracles["neardup_clusters"]
    tail = closure.rindex("SELECT d.doc_id")
    oracles["neardup_survivors"] = closure[:tail] + """SELECT d.doc_id,
                   d.lang, d.source, d.n_chars
            FROM documents d LEFT JOIN reach ON reach.id = d.doc_id
            WHERE coalesce(reach.comp, d.doc_id) = d.doc_id
        """
    # quality survivors = the same closure spliced with the doc_quality
    # replay (argmax per cluster by score, min id on ties) — semantic
    # reuse of both oracles, not duplication
    oracles["quality_survivors"] = (
        closure[:tail]
        + f", q AS ({oracles['doc_quality']})"
        + """
            SELECT coalesce(reach.comp, q.doc_id) AS canonical_id,
                   q.doc_id, q.q_quality_score
            FROM q LEFT JOIN reach ON reach.id = q.doc_id
            QUALIFY row_number() OVER (
                PARTITION BY coalesce(reach.comp, q.doc_id)
                ORDER BY q.q_quality_score DESC, q.doc_id) = 1
        """)
    # entity resolution = the fuzzy pair oracle (n^2 levenshtein) fed
    # through the same recursive-CTE transitive closure the cluster
    # oracles use — both stages' oracles composed end to end
    oracles["entity_resolution"] = f"""
        WITH pairs AS ({oracles["fuzzy_name_matches"]}),
        edges AS (
            SELECT id1 AS a, id2 AS b FROM pairs
            UNION
            SELECT id2 AS a, id1 AS b FROM pairs
        ), reach AS (
            WITH RECURSIVE r(id, v) AS (
                SELECT a AS id, a AS v FROM edges
                UNION
                SELECT r.id, e.b AS v
                FROM r JOIN edges e ON r.v = e.a
            )
            SELECT id, min(v) AS comp FROM r GROUP BY id
        )
        SELECT c.c_custkey,
               coalesce(reach.comp, c.c_custkey) AS entity_id
        FROM customer c LEFT JOIN reach ON reach.id = c.c_custkey
    """
    # quartile-stratified sampling = doc_quality scoring + the portable
    # discrete-quantile cutoffs + hash-ranked per-bucket caps, all
    # replayed closed-form
    from dump1090_db_stream_spark.operators.sampling import (
        portable_hash_sql as _phs,
    )
    from dump1090_db_stream_spark.operators.sketches import (
        sample_threshold as _sth,
    )

    oracles["quartile_stratified_sample"] = f"""
        WITH q AS ({oracles["doc_quality"]}),
        scored AS (SELECT doc_id, q_quality_score FROM q),
        arr AS (
            SELECT list_sort(list(q_quality_score)) AS a
            FROM scored
            WHERE ({_phs("doc_id")}) < {_sth(4)}
        ), cut AS (
            SELECT a[CAST(floor(0.25 * (len(a) - 1)) AS INT) + 1] AS p25,
                   a[CAST(floor(0.50 * (len(a) - 1)) AS INT) + 1] AS p50,
                   a[CAST(floor(0.75 * (len(a) - 1)) AS INT) + 1] AS p75
            FROM arr
        ), bucketed AS (
            SELECT s.doc_id, s.q_quality_score,
                   1 + CAST(s.q_quality_score > cut.p25 AS INT)
                     + CAST(s.q_quality_score > cut.p50 AS INT)
                     + CAST(s.q_quality_score > cut.p75 AS INT) AS quartile
            FROM scored s CROSS JOIN cut
        )
        SELECT quartile, doc_id, q_quality_score, rk FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY quartile
                       ORDER BY {_phs("doc_id")}, doc_id) AS rk
            FROM bucketed)
        WHERE rk <= 40
    """
    # Morton/z-order key: the same quantize + shift/mask arithmetic
    # (identical double expression order, so floor() can't diverge).
    from dump1090_db_stream_spark.operators import zorder as _zorder

    _qu = _zorder.quantize_uniform_sql("user_id", 0, 150, 12)
    _qv = _zorder.quantize_uniform_sql("value", 0, 500, 12)
    oracles["zorder_keys"] = f"""
        SELECT event_id, {_qu} AS q_user, {_qv} AS q_value,
               {_zorder.zvalue_sql([_qu, _qv], bits=12)} AS zv
        FROM events
    """
    # Deterministic k-fold CV assignment: the seeded-hash fold replay.
    oracles["kfold_docs"] = f"""
        SELECT doc_id, source,
               {_sampling.kfold_assign_sql("doc_id", 5, 7)} AS fold
        FROM documents
    """
    # Contamination-safe split: composed ON TOP of the
    # transitive-closure clustering replay — the split key is the
    # cluster's canonical id, hashed through the same CASE ladder the
    # driver already verifies for hash_split_stats.
    oracles["leakage_safe_split"] = f"""
        WITH canon AS ({oracles['neardup_clusters']})
        SELECT doc_id, canonical_id,
               {_sampling.hash_split_case_sql("canonical_id")} AS split
        FROM canon
    """
    # Distributed BPE training (operators.bpe): the replay derives its
    # own 12 merges — unrolled MATERIALIZED stages, each re-deriving
    # the (cnt DESC, lhs, rhs) argmax and applying the greedy merge via
    # the run-parity window formulation (equivalence with the Spark
    # fold proven in the module docstring; MATERIALIZED is load-bearing
    # — inlined CTEs make the unrolled plan exponential in n_merges).
    from dump1090_db_stream_spark.operators import bpe as _bpe

    _bpe_prefix = _bpe.replay_prefix_sql(12)
    oracles["bpe_merges"] = (
        _bpe_prefix + "\n" + _bpe.merges_select_sql(12))
    # ... and at K=64: the SAME stage-by-stage re-derivation, 64
    # unrolled stages — verifying the trainer and the chunked encode
    # against an oracle that trains the classic way from scratch.
    _bpe_prefix64 = _bpe.replay_prefix_sql(64)
    oracles["bpe_merges_k64"] = (
        _bpe_prefix64 + "\n" + _bpe.merges_select_sql(64))
    # bpe_merges_k64_local is the same query under its first name.
    oracles["bpe_merges_k64_local"] = oracles["bpe_merges_k64"]
    oracles["bpe_vocab_k64"] = _bpe_prefix64 + """
        SELECT sym, SUM(freq)::BIGINT AS n_occurrences,
               COUNT(DISTINCT word)::BIGINT AS n_word_types
        FROM (SELECT word, freq, unnest(syms) AS sym FROM words64)
        GROUP BY sym
    """
    # Exact Mann-Whitney rank-sum drift: the identical integer
    # derivation with plain SQL windows — doubled rank sums and the
    # tie term in DECIMAL(38,0), one double conversion per total, the
    # same IEEE expression order as the Spark side.
    oracles["ranksum_snapshot_drift"] = """
        WITH base AS (
            SELECT event_type AS k, CAST(value AS DOUBLE) AS s,
                   CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END AS refside
            FROM events
            WHERE value IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))
              AND event_type IS NOT NULL
              AND ts IS NOT NULL
        ), per AS (
            SELECT k, s, count(*) AS call,
                   CAST(sum(refside) AS BIGINT) AS cref
            FROM base GROUP BY k, s
        ), pts AS (
            SELECT k, s, call, cref,
                   CAST(sum(call) OVER (
                       PARTITION BY k ORDER BY s
                       ROWS UNBOUNDED PRECEDING) - call AS BIGINT)
                       AS prev,
                   CAST(sum(call) OVER (PARTITION BY k) AS BIGINT)
                       AS nall
            FROM per
        ), agg AS (
            SELECT k,
                   sum(CAST(call - cref AS DECIMAL(38,0))
                       * CAST(2 * prev + call + 1 AS DECIMAL(38,0)))
                       AS r2d,
                   sum(CAST(call AS DECIMAL(38,0))
                       * CAST(call AS DECIMAL(38,0))
                       * CAST(call AS DECIMAL(38,0))
                       - CAST(call AS DECIMAL(38,0))) AS td,
                   CAST(sum(cref) AS BIGINT) AS n_ref,
                   max(nall) AS nall
            FROM pts GROUP BY k
        ), stats AS (
            SELECT k, n_ref,
                   CAST(nall - n_ref AS BIGINT) AS n_cur,
                   CAST(r2d AS DOUBLE)
                   - CAST(nall - n_ref AS DOUBLE)
                     * (CAST(nall - n_ref AS DOUBLE) + 1.0) AS u2,
                   CAST(n_ref AS DOUBLE)
                   * CAST(nall - n_ref AS DOUBLE) AS mu2,
                   CAST(n_ref AS DOUBLE)
                   * CAST(nall - n_ref AS DOUBLE) / 12.0
                   * ((CAST(nall AS DOUBLE) + 1.0)
                      - CAST(td AS DOUBLE)
                        / (CAST(nall AS DOUBLE)
                           * (CAST(nall AS DOUBLE) - 1.0))) AS var
            FROM agg
        )
        SELECT k AS event_type, n_ref, n_cur,
               CASE WHEN n_ref > 0 AND n_cur > 0
                    THEN round(u2 / 2.0, 6) END AS u_cur,
               round(CASE WHEN n_ref > 0 AND n_cur > 0 AND var > 0
                          THEN (u2 - mu2) / (2.0 * sqrt(var)) END, 6)
                   AS z,
               CASE WHEN n_ref > 0 AND n_cur > 0 AND var > 0
                    THEN abs((u2 - mu2) / (2.0 * sqrt(var)))
                         > 1.959964 END AS drifted
        FROM stats
    """
    # Pearson chi-square categorical drift: the same closed-form cell
    # contributions quantized to 1e-9 decimals before summation, the
    # same Wilson-Hilferty expression.
    oracles["chisq_snapshot_drift"] = """
        WITH base AS (
            SELECT CAST(event_type AS VARCHAR) AS c,
                   CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END AS refside
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ), cells AS (
            SELECT c, count(*) AS tot,
                   CAST(sum(refside) AS BIGINT) AS oref
            FROM base GROUP BY c
        ), margins AS (
            SELECT CAST(sum(oref) AS BIGINT) AS n_ref,
                   CAST(sum(tot - oref) AS BIGINT) AS n_cur,
                   count(*) AS n_categories
            FROM cells
        ), percell AS (
            -- the Spark side guards each cell on e_ref/e_cur > 0
            -- (NULL contributions for one-sided slices); this
            -- ungrouped contract always has both sides non-empty,
            -- and the same guard keeps the replay total anyway
            SELECT m.n_ref, m.n_cur, m.n_categories,
                   CAST(floor(CASE WHEN m.n_ref > 0 AND m.n_cur > 0
                              THEN (
                       (CAST(oref AS DOUBLE)
                        - CAST(m.n_ref AS DOUBLE)
                          * CAST(tot AS DOUBLE)
                          / (CAST(m.n_ref AS DOUBLE)
                             + CAST(m.n_cur AS DOUBLE)))
                       * (CAST(oref AS DOUBLE)
                          - CAST(m.n_ref AS DOUBLE)
                            * CAST(tot AS DOUBLE)
                            / (CAST(m.n_ref AS DOUBLE)
                               + CAST(m.n_cur AS DOUBLE)))
                       / (CAST(m.n_ref AS DOUBLE)
                          * CAST(tot AS DOUBLE)
                          / (CAST(m.n_ref AS DOUBLE)
                             + CAST(m.n_cur AS DOUBLE)))
                       + (CAST(tot - oref AS DOUBLE)
                          - CAST(m.n_cur AS DOUBLE)
                            * CAST(tot AS DOUBLE)
                            / (CAST(m.n_ref AS DOUBLE)
                               + CAST(m.n_cur AS DOUBLE)))
                         * (CAST(tot - oref AS DOUBLE)
                            - CAST(m.n_cur AS DOUBLE)
                              * CAST(tot AS DOUBLE)
                              / (CAST(m.n_ref AS DOUBLE)
                                 + CAST(m.n_cur AS DOUBLE)))
                         / (CAST(m.n_cur AS DOUBLE)
                            * CAST(tot AS DOUBLE)
                            / (CAST(m.n_ref AS DOUBLE)
                               + CAST(m.n_cur AS DOUBLE)))
                   ) END * 1e9 + 0.5) AS DECIMAL(38,0)) AS qc
            FROM cells CROSS JOIN margins m
        ), agg AS (
            SELECT n_ref, n_cur, n_categories, sum(qc) AS qs
            FROM percell GROUP BY n_ref, n_cur, n_categories
        )
        SELECT n_ref, n_cur, n_categories,
               CASE WHEN n_ref > 0 AND n_cur > 0
                    THEN CAST(n_categories - 1 AS BIGINT) END AS df,
               CASE WHEN n_ref > 0 AND n_cur > 0
                    THEN round(CAST(qs AS DOUBLE) / 1e9, 6) END
                   AS chisq,
               round(CASE WHEN n_ref > 0 AND n_cur > 0
                          AND n_categories > 1
                     THEN (pow(CAST(qs AS DOUBLE) / 1e9
                               / CAST(n_categories - 1 AS DOUBLE),
                               1.0 / 3.0)
                           - (1.0 - 2.0
                              / (9.0 * CAST(n_categories - 1
                                            AS DOUBLE))))
                          / sqrt(2.0 / (9.0 * CAST(n_categories - 1
                                                   AS DOUBLE)))
                     END, 6) AS z_wh,
               CASE WHEN n_ref > 0 AND n_cur > 0 AND n_categories > 1
                    THEN (pow(CAST(qs AS DOUBLE) / 1e9
                              / CAST(n_categories - 1 AS DOUBLE),
                              1.0 / 3.0)
                          - (1.0 - 2.0
                             / (9.0 * CAST(n_categories - 1
                                           AS DOUBLE))))
                         / sqrt(2.0 / (9.0 * CAST(n_categories - 1
                                                  AS DOUBLE)))
                         > 1.644854 END AS drifted
        FROM agg
    """
    # Jensen-Shannon divergence of the same category mix: identical
    # pinned per-cell expression order (p log2(p/m) terms of exact
    # integers), 1e-9-quantized decimal summation, floor-based 1e-6
    # micro-quantization — the bounded effect-size sibling of the
    # chi-square significance test above.
    oracles["jsd_snapshot_drift"] = """
        WITH base AS (
            SELECT CAST(event_type AS VARCHAR) AS c,
                   CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END AS refside
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ), cells AS (
            SELECT c, count(*) AS tot,
                   CAST(sum(refside) AS BIGINT) AS oref
            FROM base GROUP BY c
        ), margins AS (
            SELECT CAST(sum(oref) AS BIGINT) AS n_ref,
                   CAST(sum(tot - oref) AS BIGINT) AS n_cur,
                   count(*) AS n_categories
            FROM cells
        ), percell AS (
            SELECT m.n_ref, m.n_cur, m.n_categories,
                   CAST(floor(CASE WHEN m.n_ref > 0 AND m.n_cur > 0
                        THEN 0.5 * (CASE WHEN oref > 0 THEN
                            (CAST(oref AS DOUBLE)
                             / CAST(m.n_ref AS DOUBLE))
                            * log2((CAST(oref AS DOUBLE)
                                    / CAST(m.n_ref AS DOUBLE))
                                   / (((CAST(oref AS DOUBLE)
                                        / CAST(m.n_ref AS DOUBLE))
                                       + (CAST(tot - oref AS DOUBLE)
                                          / CAST(m.n_cur AS DOUBLE)))
                                      / 2.0))
                            ELSE 0.0 END)
                           + 0.5 * (CASE WHEN tot - oref > 0 THEN
                            (CAST(tot - oref AS DOUBLE)
                             / CAST(m.n_cur AS DOUBLE))
                            * log2((CAST(tot - oref AS DOUBLE)
                                    / CAST(m.n_cur AS DOUBLE))
                                   / (((CAST(oref AS DOUBLE)
                                        / CAST(m.n_ref AS DOUBLE))
                                       + (CAST(tot - oref AS DOUBLE)
                                          / CAST(m.n_cur AS DOUBLE)))
                                      / 2.0))
                            ELSE 0.0 END)
                        END * 1e9 + 0.5) AS DECIMAL(38,0)) AS qc
            FROM cells CROSS JOIN margins m
        ), agg AS (
            SELECT n_ref, n_cur, n_categories, sum(qc) AS qs
            FROM percell GROUP BY n_ref, n_cur, n_categories
        )
        SELECT n_ref, n_cur, n_categories,
               CASE WHEN n_ref > 0 AND n_cur > 0
                    THEN floor(CAST(qs AS DOUBLE) / 1e9 * 1e6 + 0.5)
                         / 1e6 END AS jsd,
               CASE WHEN n_ref > 0 AND n_cur > 0
                    THEN floor(sqrt(greatest(
                             CAST(qs AS DOUBLE) / 1e9, 0.0))
                         * 1e6 + 0.5) / 1e6 END AS js_distance,
               CASE WHEN n_ref > 0 AND n_cur > 0
                    THEN CAST(qs AS DOUBLE) / 1e9 > 0.1 END AS drifted
        FROM agg
    """
    # Page-Hinkley sequential changepoint: identical per-bucket
    # quantized-decimal means, exact integer running sums/min over the
    # same bounded (key, bucket) windows, the same two pinned IEEE
    # divisions, the same single scaled comparison grain.
    oracles["ph_value_drift"] = """
        WITH base AS (
            SELECT event_type AS k,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
                   CAST(value AS DOUBLE) AS x
            FROM events
            WHERE value IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))
              AND ts IS NOT NULL AND event_type IS NOT NULL
        ), buckets AS (
            SELECT k, b,
                   sum(CAST(floor(x * 1e9 + 0.5) AS DECIMAL(38,0)))
                       AS qsum,
                   count(*) AS cnt
            FROM base GROUP BY k, b
        ), staged AS (
            SELECT k, b,
                   CAST(qsum AS DOUBLE) / 1e9 / CAST(cnt AS DOUBLE)
                       AS x,
                   row_number() OVER w AS t,
                   sum(CAST(floor(
                       (CAST(qsum AS DOUBLE) / 1e9
                        / CAST(cnt AS DOUBLE)) * 1e9 + 0.5)
                       AS DECIMAL(38,0))) OVER w AS sx
            FROM buckets
            WINDOW w AS (PARTITION BY k ORDER BY b
                         ROWS UNBOUNDED PRECEDING)
        ), devs AS (
            SELECT k, b,
                   sum(CAST(floor(
                       (x - (CAST(sx AS DOUBLE) / 1e9
                             / CAST(t AS DOUBLE)) - 0.05)
                       * 1e9 + 0.5) AS DECIMAL(38,0)))
                       OVER (PARTITION BY k ORDER BY b
                             ROWS UNBOUNDED PRECEDING) AS m
            FROM staged
        ), exc AS (
            SELECT k, b,
                   m - min(m) OVER (PARTITION BY k ORDER BY b
                                    ROWS UNBOUNDED PRECEDING) AS e
            FROM devs
        )
        SELECT k AS event_type, count(*) AS n_buckets,
               floor(CAST(max(e) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
                   AS ph_stat,
               (min(CASE WHEN CAST(e AS DOUBLE) > 1.0 * 1e9
                         THEN b END) IS NOT NULL) AS drifted,
               min(CASE WHEN CAST(e AS DOUBLE) > 1.0 * 1e9
                        THEN b END) AS alarm_bucket
        FROM exc GROUP BY k
    """
    # Packing utilization audit: the pack_sequences replay plus one
    # bounded per-bucket aggregation of exact integers.
    _pe_pack = _packing.pack_sequences_sql(
        token_budget=2048, n_buckets=16, n_tokens_expr="n_chars")
    oracles["packing_efficiency"] = f"""
        WITH packed AS ({_pe_pack})
        SELECT bucket, count(*) AS n_docs,
               CAST(max(bin) + 1 AS BIGINT) AS n_bins,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST((max(bin) + 1) * 2048 AS BIGINT) AS capacity,
               round(CAST(sum(n_tokens) AS DOUBLE)
                     / CAST((max(bin) + 1) * 2048 AS DOUBLE), 6)
                   AS fill_ratio,
               CAST(sum(CASE WHEN "offset" + n_tokens > 2048
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow
        FROM packed GROUP BY bucket
    """
    # END-TO-END pipeline capstone (r11 stretch ask #8): hygiene ->
    # exact dedup -> near-dup survivor -> decontamination ->
    # leakage-safe split -> temperature mixture (train) -> packing,
    # recomposed stage by stage from the SAME oracle fragments the
    # individual contracts already verify (gopher_quality,
    # neardup_clusters, benchmark_decontamination, the
    # hash_split/temperature/packing SQL builders) — so the hash pins
    # the composed row flow end to end.
    _caps_mix_hash = _sampling.portable_hash_seeded_sql("tr.doc_id", 0)
    _caps_pack = _packing.pack_sequences_sql(
        token_budget=2048, n_buckets=16, n_tokens_expr="n_chars",
        table="mixed")
    _caps_common = f"""
        WITH gop AS ({oracles['gopher_quality']}),
        canonrel AS ({oracles['neardup_clusters']}),
        contam AS (
            SELECT DISTINCT doc_id
            FROM ({oracles['benchmark_decontamination']})
        ),
        exacts AS (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text))
                       AS exact_min
            FROM documents
        ),
        surv AS (
            SELECT doc_id, canonical_id, source, n_chars
            FROM (
                SELECT d.doc_id, c.canonical_id, d.source, d.n_chars,
                       min(d.doc_id) OVER (PARTITION BY c.canonical_id)
                           AS cmin
                FROM documents d
                JOIN gop g ON g.doc_id = d.doc_id
                JOIN canonrel c ON c.doc_id = d.doc_id
                JOIN exacts e ON e.doc_id = d.doc_id
                -- the gopher fragment exposes every rule boolean, so
                -- the relaxed stop gate recomposes without forking it
                WHERE g.r_word_count AND g.r_mean_word_len
                  AND g.r_symbol_ratio AND g.r_bullet_lines
                  AND g.r_ellipsis_lines AND g.r_alpha_words
                  AND g.stop_hits >= 1 AND d.doc_id = e.exact_min
                  AND d.doc_id NOT IN (SELECT doc_id FROM contam)
            ) WHERE doc_id = cmin
        ),
        sp AS (
            SELECT *, {_sampling.hash_split_case_sql("canonical_id")}
                       AS split
            FROM surv
        ),
        tr AS (
            SELECT * FROM sp WHERE split = 'train'
              AND source IS NOT NULL
        ),
        cnts AS (SELECT source, count(*) AS n FROM tr GROUP BY source),
        mn AS (SELECT min(n) AS n_min FROM cnts),
        rates AS (
            SELECT source,
                   round(pow(CAST(n AS DOUBLE) / n_min, -0.5), 6)
                       AS keep_rate
            FROM cnts CROSS JOIN mn
        ),
        mixed AS (
            SELECT tr.doc_id, tr.canonical_id, tr.source, tr.n_chars,
                   tr.split
            FROM tr JOIN rates USING (source)
            WHERE ({_caps_mix_hash}) % 10000
                  < CAST(round(keep_rate * 10000) AS BIGINT)
        ),
        packed AS ({_caps_pack})"""
    oracles["pipeline_capstone"] = _caps_common + """
        , pool AS (
            SELECT doc_id, source, n_chars, split,
                   CAST(NULL AS INT) AS bucket,
                   CAST(NULL AS BIGINT) AS bin
            FROM sp WHERE split <> 'train'
            UNION ALL
            SELECT m.doc_id, m.source, m.n_chars, m.split,
                   p.bucket, p.bin
            FROM mixed m JOIN packed p ON p.doc_id = m.doc_id
        )
        SELECT split, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
               count(DISTINCT source) AS n_sources,
               count(DISTINCT CASE WHEN split = 'train'
                     THEN CAST(bucket AS VARCHAR) || ':'
                          || CAST(bin AS VARCHAR) END)
                   AS n_sequences
        FROM pool GROUP BY split
    """
    # Export stage (r12 stretch ask #8): same seven recomposed stages,
    # then the exact serialized line bytes — Spark's compact to_json
    # over (doc_id, source, n_chars, split, bucket, bin) replayed as a
    # concat (integer/identifier columns only: no escaping or float
    # formatting can diverge), shard = pmod(portable_hash(doc_id), 4)
    # exactly as write_jsonl_shards routes, +1 byte per row for the
    # newline the text sink appends. A hash match against the
    # disk-measured manifest proves every byte written.
    _caps_ph = _sampling.portable_hash_sql("doc_id")
    oracles["capstone_export"] = _caps_common + f"""
        , exp AS (
            SELECT m.doc_id, m.source, m.n_chars, m.split,
                   p.bucket, p.bin
            FROM mixed m JOIN packed p ON p.doc_id = m.doc_id
        ), lines AS (
            SELECT ({_caps_ph}) % 4 AS shard,
                   '{{"doc_id":' || CAST(doc_id AS VARCHAR)
                   || ',"source":"' || source
                   || '","n_chars":' || CAST(n_chars AS VARCHAR)
                   || ',"split":"' || split
                   || '","bucket":' || CAST(bucket AS VARCHAR)
                   || ',"bin":' || CAST(bin AS VARCHAR) || '}}' AS line
            FROM exp
        )
        SELECT shard, count(*) AS n_records,
               CAST(sum(strlen(line) + 1) AS BIGINT) AS n_bytes
        FROM lines GROUP BY shard
    """
    oracles["bpe_vocab"] = _bpe_prefix + """
        SELECT sym, SUM(freq)::BIGINT AS n_occurrences,
               COUNT(DISTINCT word)::BIGINT AS n_word_types
        FROM (SELECT word, freq, unnest(syms) AS sym FROM words12)
        GROUP BY sym
    """
    oracles["bpe_encoded_stats"] = _bpe_prefix + r"""
        , grpw AS (
            SELECT source, word, COUNT(*)::BIGINT AS gfreq
            FROM (SELECT source,
                         unnest(regexp_extract_all(
                             text, '[\p{L}\p{N}]+')) AS word
                  FROM documents WHERE text IS NOT NULL)
            GROUP BY source, word
        )
        SELECT g.source, SUM(g.gfreq)::BIGINT AS n_words,
               SUM(g.gfreq * len(w.syms))::BIGINT AS n_subword_tokens,
               SUM(g.gfreq * length(w.word))::BIGINT AS n_word_chars
        FROM grpw g JOIN words12 w ON w.word = g.word
        GROUP BY g.source
    """
    # Exact two-sample KS drift: replay both integer CDFs with plain
    # windows (inclusive cum = default RANGE frame over the distinct
    # (g, s) grain), then the same four exact-integer divisions and
    # the same expression-form critical value as the Spark side.
    oracles["ks_drift_by_type"] = """
        WITH base AS (
            SELECT event_type AS g, CAST(value AS DOUBLE) AS s
            FROM events
            WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
              AND event_type IS NOT NULL
        ), gs AS (
            SELECT g, s, count(*) AS c FROM base GROUP BY g, s
        ), gtot AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS n FROM gs GROUP BY g
        ), ntot AS (
            SELECT CAST(sum(c) AS BIGINT) AS n_all FROM gs
        ), gl AS (
            SELECT s, CAST(sum(c) AS BIGINT) AS call,
                   CAST(sum(sum(c)) OVER (ORDER BY s) AS BIGINT)
                       AS cumall
            FROM gs GROUP BY s
        ), pts AS (
            SELECT gs.g, gtot.n, ntot.n_all - gtot.n AS n_rest,
                   CAST(sum(gs.c) OVER (PARTITION BY gs.g ORDER BY gs.s)
                        AS BIGINT) AS cg,
                   gs.c, gl.cumall, gl.call
            FROM gs
            JOIN gl USING (s) JOIN gtot USING (g) CROSS JOIN ntot
        ), diffs AS (
            SELECT g, n, n_rest,
                   greatest(
                       abs(CAST(cg AS DOUBLE) / CAST(n AS DOUBLE)
                           - CASE WHEN n_rest = 0 THEN NULL
                                  ELSE CAST(cumall - cg AS DOUBLE)
                                       / CAST(n_rest AS DOUBLE) END),
                       abs(CAST(cg - c AS DOUBLE) / CAST(n AS DOUBLE)
                           - CASE WHEN n_rest = 0 THEN NULL
                                  ELSE CAST((cumall - call) - (cg - c)
                                            AS DOUBLE)
                                       / CAST(n_rest AS DOUBLE) END)
                   ) AS d
            FROM pts
        )
        SELECT g AS event_type, n, n_rest,
               round(max(d), 6) AS ks,
               CASE WHEN n_rest > 0 THEN
                   round(sqrt(-ln(0.025) / 2.0)
                         * sqrt(CAST(n + n_rest AS DOUBLE)
                                / (CAST(n AS DOUBLE)
                                   * CAST(n_rest AS DOUBLE))), 6)
               END AS ks_crit_05,
               CASE WHEN n_rest > 0 THEN
                   max(d) > sqrt(-ln(0.025) / 2.0)
                            * sqrt(CAST(n + n_rest AS DOUBLE)
                                   / (CAST(n AS DOUBLE)
                                      * CAST(n_rest AS DOUBLE)))
               END AS drifted
        FROM diffs GROUP BY g, n, n_rest
    """
    # Dunning keyness: the same four-cell closed form (every product
    # in DOUBLE, empty cells 0), ranked on the rounded g2.
    oracles["keyness_by_source"] = """
        WITH toks AS (
            SELECT source AS g,
                   unnest(regexp_split_to_array(trim(text), '\\s+'))
                       AS term
            FROM documents WHERE source IS NOT NULL
        ), gt AS (
            SELECT g, term, count(*) AS c FROM toks GROUP BY g, term
        ), gl AS (
            SELECT term, CAST(sum(c) AS BIGINT) AS c_t
            FROM gt GROUP BY term
        ), gs AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM gt GROUP BY g
        ), tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n_all FROM gs
        ), scored AS (
            SELECT gt.g, gt.term, CAST(gt.c AS BIGINT) AS c_gt,
                   gs.n_g, gl.c_t, tot.n_all,
                   round(2.0 * (
                       CASE WHEN gt.c > 0 THEN
                           CAST(gt.c AS DOUBLE)
                           * ln(CAST(gt.c AS DOUBLE)
                                * CAST(n_all AS DOUBLE)
                                / (CAST(n_g AS DOUBLE)
                                   * CAST(c_t AS DOUBLE)))
                       ELSE 0.0 END
                     + CASE WHEN c_t - gt.c > 0 THEN
                           CAST(c_t - gt.c AS DOUBLE)
                           * ln(CAST(c_t - gt.c AS DOUBLE)
                                * CAST(n_all AS DOUBLE)
                                / (CAST(n_all - n_g AS DOUBLE)
                                   * CAST(c_t AS DOUBLE)))
                       ELSE 0.0 END
                     + CASE WHEN n_g - gt.c > 0 THEN
                           CAST(n_g - gt.c AS DOUBLE)
                           * ln(CAST(n_g - gt.c AS DOUBLE)
                                * CAST(n_all AS DOUBLE)
                                / (CAST(n_g AS DOUBLE)
                                   * CAST(n_all - c_t AS DOUBLE)))
                       ELSE 0.0 END
                     + CASE WHEN n_all - n_g - (c_t - gt.c) > 0 THEN
                           CAST(n_all - n_g - (c_t - gt.c) AS DOUBLE)
                           * ln(CAST(n_all - n_g - (c_t - gt.c)
                                     AS DOUBLE)
                                * CAST(n_all AS DOUBLE)
                                / (CAST(n_all - n_g AS DOUBLE)
                                   * CAST(n_all - c_t AS DOUBLE)))
                       ELSE 0.0 END
                   ), 6) AS g2,
                   CAST(gt.c AS DOUBLE) * CAST(n_all AS DOUBLE)
                       > CAST(n_g AS DOUBLE) * CAST(c_t AS DOUBLE)
                       AS overused
            FROM gt JOIN gl USING (term) JOIN gs USING (g)
            CROSS JOIN tot
            WHERE gt.c >= 5
        )
        SELECT source, term, c_gt, n_g, c_t, n_all, g2, overused, rk
        FROM (
            SELECT g AS source, term, c_gt, n_g, c_t, n_all, g2,
                   overused,
                   CAST(row_number() OVER (
                        PARTITION BY g ORDER BY g2 DESC, term)
                        AS INT) AS rk
            FROM scored)
        WHERE rk <= 15
    """
    # Poisson-bootstrap CI: the same hash -> threshold-ladder weight,
    # decimal-exact weighted sums, and the Python-computed 5/196 rank
    # grid over 200 replicates.
    from dump1090_db_stream_spark.operators import bootstrap as _bt

    _bu = _bt._u_sql("doc_id", 200, 11)
    _bw = _bt.poisson_weight_sql(_bu)
    oracles["bootstrap_mean_chars"] = f"""
        WITH base AS (
            SELECT source AS g, doc_id,
                   CAST(n_chars AS DECIMAL(28,6)) AS v
            FROM documents
            WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ), pt AS (
            SELECT g, count(*) AS n,
                   CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS m
            FROM base GROUP BY g
        ), reps AS (
            SELECT CAST(range AS BIGINT) AS r FROM range(200)
        ), wts AS (
            SELECT g, r, {_bw} AS w, v FROM base CROSS JOIN reps
        ), rm AS (
            SELECT g, r, CAST(sum(w) AS BIGINT) AS sw,
                   CAST(sum(w * v) AS DOUBLE) AS swv
            FROM wts GROUP BY g, r
        ), rm2 AS (
            SELECT g, r,
                   CASE WHEN sw > 0
                        THEN swv / CAST(sw AS DOUBLE) END AS m
            FROM rm
        ), rk AS (
            -- degenerate replicates filtered BEFORE ranking (r11
            -- ADVICE): ranks match Spark unconditionally instead of
            -- relying on NULL placement agreement between engines
            SELECT g, m,
                   row_number() OVER (
                       PARTITION BY g ORDER BY m ASC, r ASC) AS rk
            FROM rm2 WHERE m IS NOT NULL
        ), agg AS (
            SELECT g,
                   min(CASE WHEN rk = 5 THEN m END) AS lo,
                   min(CASE WHEN rk = 196 THEN m END) AS hi,
                   200 - count(*) AS bad
            FROM rk GROUP BY g
        )
        SELECT pt.g AS source, pt.n, round(pt.m, 6) AS mean,
               CASE WHEN bad = 0 THEN round(lo, 6) END AS ci_lo,
               CASE WHEN bad = 0 THEN round(hi, 6) END AS ci_hi,
               200 AS n_boot
        FROM pt LEFT JOIN agg USING (g)
    """
    # Snapshot-vs-snapshot exact KS: both CDFs as plain windows over
    # the per-(key, score) union grain (ref counts zero-filled), then
    # the same exact-integer divisions and expression-form threshold.
    oracles["ks_snapshot_drift"] = """
        WITH base AS (
            SELECT event_type AS k, CAST(value AS DOUBLE) AS s,
                   CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END AS refside
            FROM events
            WHERE value IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))
              AND event_type IS NOT NULL
              AND ts IS NOT NULL
        ), per AS (
            SELECT k, s, count(*) AS call,
                   CAST(sum(refside) AS BIGINT) AS cref
            FROM base GROUP BY k, s
        ), tot AS (
            SELECT k, CAST(sum(call) AS BIGINT) AS nall,
                   CAST(sum(cref) AS BIGINT) AS n_ref
            FROM per GROUP BY k
        ), pts AS (
            SELECT per.k, tot.n_ref, tot.nall - tot.n_ref AS n_cur,
                   CAST(sum(per.cref) OVER (
                        PARTITION BY per.k ORDER BY per.s)
                        AS BIGINT) AS cumr,
                   CAST(sum(per.call) OVER (
                        PARTITION BY per.k ORDER BY per.s)
                        AS BIGINT) AS cuma,
                   per.cref, per.call
            FROM per JOIN tot USING (k)
        ), diffs AS (
            SELECT k, n_ref, n_cur,
                   CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                       greatest(
                           abs(CAST(cumr AS DOUBLE)
                               / CAST(n_ref AS DOUBLE)
                               - CAST(cuma - cumr AS DOUBLE)
                               / CAST(n_cur AS DOUBLE)),
                           abs(CAST(cumr - cref AS DOUBLE)
                               / CAST(n_ref AS DOUBLE)
                               - CAST((cuma - call) - (cumr - cref)
                                      AS DOUBLE)
                               / CAST(n_cur AS DOUBLE)))
                   END AS d
            FROM pts
        )
        SELECT k AS event_type, n_ref, n_cur,
               round(max(d), 6) AS ks,
               CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                   round(sqrt(-ln(0.025) / 2.0)
                         * sqrt(CAST(n_ref + n_cur AS DOUBLE)
                                / (CAST(n_ref AS DOUBLE)
                                   * CAST(n_cur AS DOUBLE))), 6)
               END AS ks_crit_05,
               CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                   max(d) > sqrt(-ln(0.025) / 2.0)
                            * sqrt(CAST(n_ref + n_cur AS DOUBLE)
                                   / (CAST(n_ref AS DOUBLE)
                                      * CAST(n_cur AS DOUBLE)))
               END AS drifted
        FROM diffs GROUP BY k, n_ref, n_cur
    """
    # Wasserstein-1 snapshot drift: the same union-grain CDF windows
    # plus a lead() for interval widths, per-interval contributions
    # quantized to 1e-9 decimals (the source_divergence fold), same
    # final division and round.
    oracles["w1_snapshot_drift"] = """
        WITH base AS (
            SELECT event_type AS k, CAST(value AS DOUBLE) AS s,
                   CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END AS refside
            FROM events
            WHERE value IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))
              AND event_type IS NOT NULL
              AND ts IS NOT NULL
        ), per AS (
            SELECT k, s, count(*) AS call,
                   CAST(sum(refside) AS BIGINT) AS cref
            FROM base GROUP BY k, s
        ), tot AS (
            SELECT k, CAST(sum(call) AS BIGINT) AS nall,
                   CAST(sum(cref) AS BIGINT) AS n_ref
            FROM per GROUP BY k
        ), pts AS (
            SELECT per.k, tot.n_ref, tot.nall - tot.n_ref AS n_cur,
                   CAST(sum(per.cref) OVER (
                        PARTITION BY per.k ORDER BY per.s)
                        AS BIGINT) AS cumr,
                   CAST(sum(per.call) OVER (
                        PARTITION BY per.k ORDER BY per.s)
                        AS BIGINT) AS cuma,
                   per.s,
                   lead(per.s) OVER (
                        PARTITION BY per.k ORDER BY per.s) AS nxt
            FROM per JOIN tot USING (k)
        ), contrib AS (
            SELECT k, n_ref, n_cur,
                   CASE WHEN nxt IS NOT NULL
                             AND n_ref > 0 AND n_cur > 0 THEN
                       CAST(floor(
                           abs(CAST(cumr AS DOUBLE)
                               / CAST(n_ref AS DOUBLE)
                               - CAST(cuma - cumr AS DOUBLE)
                               / CAST(n_cur AS DOUBLE))
                           * (nxt - s) * 1e9 + 0.5)
                           AS DECIMAL(38,0))
                   ELSE CAST(0 AS DECIMAL(38,0)) END AS q,
                   CASE WHEN n_ref > 0 AND n_cur > 0
                        THEN 0 ELSE 1 END AS bad
            FROM pts
        )
        SELECT k AS event_type, n_ref, n_cur,
               CASE WHEN sum(bad) = 0 THEN
                   round(CAST(sum(q) AS DOUBLE) / 1e9, 6)
               END AS w1
        FROM contrib GROUP BY k, n_ref, n_cur
    """
    # Decimal-exact Pearson + OLS: identical quantization, exact
    # decimal sufficient statistics, identical closed-form doubles.
    oracles["chars_tokens_correlation"] = """
        WITH base AS (
            SELECT source,
                   CAST(n_chars AS DECIMAL(28,6)) AS x,
                   CAST(length(regexp_split_to_array(trim(text),
                                                     '\\s+'))
                        AS DECIMAL(28,6)) AS y
            FROM documents
            WHERE source IS NOT NULL
        ), flt AS (
            SELECT * FROM base
            WHERE x IS NOT NULL AND y IS NOT NULL
        ), agg AS (
            SELECT source, count(*) AS n,
                   sum(x) AS sxd, sum(y) AS syd,
                   sum(x * y) AS sxyd,
                   sum(x * x) AS sxxd, sum(y * y) AS syyd
            FROM flt GROUP BY source
        ), d AS (
            SELECT source, n,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(sxd AS DOUBLE) AS sx,
                   CAST(syd AS DOUBLE) AS sy,
                   CAST(sxyd AS DOUBLE) AS sxy,
                   CAST(sxxd AS DOUBLE) AS sxx,
                   CAST(syyd AS DOUBLE) AS syy
            FROM agg
        ), forms AS (
            SELECT source, n,
                   nd * sxy - sx * sy AS cov_n,
                   nd * sxx - sx * sx AS var_x,
                   nd * syy - sy * sy AS var_y,
                   nd, sx, sy
            FROM d
        )
        SELECT source, n,
               round(CASE WHEN sqrt(var_x * var_y) <> 0
                          THEN cov_n / sqrt(var_x * var_y) END, 6)
                   AS r,
               round(CASE WHEN var_x <> 0
                          THEN cov_n / var_x END, 6) AS slope,
               round((sy - (CASE WHEN var_x <> 0
                                 THEN cov_n / var_x END) * sx) / nd, 6)
                   AS intercept
        FROM forms
    """
    # Exact type-1 quantiles: inclusive-rank windows + the same
    # ceil(prob * n) target arithmetic on identical doubles.
    oracles["exact_value_quantiles"] = """
        WITH base AS (
            SELECT event_type AS g, CAST(value AS DOUBLE) AS v
            FROM events
            WHERE value IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))
              AND event_type IS NOT NULL
        ), per AS (
            SELECT g, v, count(*) AS c FROM base GROUP BY g, v
        ), rk AS (
            SELECT g, v, c,
                   CAST(sum(c) OVER (PARTITION BY g ORDER BY v)
                        AS BIGINT) AS cum,
                   CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
            FROM per
        ), pr AS (
            SELECT unnest(CAST([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
                               AS DOUBLE[])) AS prob
        )
        SELECT g AS event_type, prob, min(v) AS q
        FROM rk CROSS JOIN pr
        WHERE cum >= greatest(
            CAST(1 AS BIGINT),
            CAST(ceil(prob * CAST(n AS DOUBLE)) AS BIGINT))
        GROUP BY g, prob
    """
    # Gini vocabulary concentration: the closed-form tie fold over
    # (group, count) multiplicities, prev from a plain window, exact
    # DECIMAL(38,0) accumulations, identical final closed form.
    oracles["vocab_gini"] = """
        WITH toks AS (
            SELECT source AS g,
                   unnest(regexp_split_to_array(trim(text), '\\s+'))
                       AS term
            FROM documents WHERE source IS NOT NULL
        ), gt AS (
            SELECT g, term, count(*) AS c FROM toks GROUP BY g, term
        ), gc AS (
            SELECT g, c, count(*) AS m FROM gt GROUP BY g, c
        ), ranked AS (
            SELECT g, c, m,
                   CAST(coalesce(sum(m) OVER (
                        PARTITION BY g ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS prev,
                   CAST(sum(m) OVER (PARTITION BY g) AS BIGINT)
                       AS n_types
            FROM gc
        ), rws AS (
            SELECT g, n_types,
                   CAST(c AS DECIMAL(38,0))
                       * CAST(m AS DECIMAL(38,0)) AS t_row,
                   CAST(c AS DECIMAL(38,0))
                       * (CAST(m AS DECIMAL(38,0))
                          * CAST(prev AS DECIMAL(38,0))
                          + CAST((m * (m + 1)) // 2
                                 AS DECIMAL(38,0))) AS s_row
            FROM ranked
        ), agg AS (
            SELECT g, max(n_types) AS n_types,
                   sum(t_row) AS t_sum, sum(s_row) AS s_sum
            FROM rws GROUP BY g
        )
        SELECT g AS source,
               CAST(n_types AS BIGINT) AS n_types,
               CAST(t_sum AS BIGINT) AS n_tokens,
               round(2.0 * CAST(s_sum AS DOUBLE)
                     / (CAST(n_types AS DOUBLE)
                        * CAST(t_sum AS DOUBLE))
                     - (CAST(n_types AS DOUBLE) + 1.0)
                       / CAST(n_types AS DOUBLE), 6) AS gini
        FROM agg
    """

    # r14: unigram-LM trajectory replays (generated — the
    # bpe_merges_k64 discipline: the oracle re-trains from the raw
    # table, so hash-equality proves the full EM trajectory)
    from dump1090_db_stream_spark.operators.unigram import (
        encoded_stats_sql as _uni_encoded_sql,
    )
    from dump1090_db_stream_spark.operators.unigram import (
        replay_sql as _uni_replay_sql,
    )
    from dump1090_db_stream_spark.operators.unigram import (
        vocab_select_sql as _uni_vocab_sql,
    )

    oracles["unigram_vocab"] = _uni_replay_sql() + _uni_vocab_sql()
    oracles["unigram_encoded_stats"] = (
        _uni_replay_sql() + _uni_encoded_sql())

    # r14: the composed drift dashboard — the union of the four
    # standalone replays under one projection (cross-metric
    # consistency pin)
    oracles["drift_dashboard"] = f"""
        SELECT 'psi' AS metric, event_type AS key, psi AS statistic,
               verdict <> 'stable' AS drifted
        FROM ({oracles["event_drift"]})
        UNION ALL
        SELECT 'ks', event_type, ks, drifted
        FROM ({oracles["ks_snapshot_drift"]})
        UNION ALL
        SELECT 'jsd', CAST(NULL AS VARCHAR), jsd, drifted
        FROM ({oracles["jsd_snapshot_drift"]})
        UNION ALL
        SELECT 'ph', event_type, ph_stat, drifted
        FROM ({oracles["ph_value_drift"]})
    """
    return oracles


# ---------------------------------------------------------------------------
# Round-6 additions: the seven TPC-H shapes the registry still lacked
# (Q4, Q9, Q11, Q12, Q14, Q16, Q20). The fixture has no partsupp table
# and lineitem carries no shipmode/commitdate/receiptdate, so Q9/Q11/
# Q16/Q20 re-key their partsupp legs onto lineitem's (l_partkey,
# l_suppkey) pairs and Q4/Q12 define lateness against o_orderdate —
# each docstring states the substitution; the JOIN/subquery SHAPE under
# test is preserved exactly.
# ---------------------------------------------------------------------------


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): orders placed in
    1997Q1 with at least one lineitem shipped more than 60 days after
    the order date, counted per priority. The EXISTS subquery becomes a
    LEFT SEMI join whose condition spans both sides (l_shipdate >
    o_orderdate + 60 days) — Spark plans it as one hash semi-join, no
    correlated per-row probe. Lateness is defined against o_orderdate
    because the fixture lineitem has no commit/receipt dates."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01"))
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders")))


def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape): per supplier nation and
    order year, profit on parts whose name contains "red". The
    fixture ships no partsupp, so ps_supplycost is proxied by
    p_retailprice (amount = l_extendedprice*(1-l_discount) -
    p_retailprice*l_quantity) — the five-way join + substring part
    filter + two-key agg shape is unchanged. Amounts accumulate as
    DECIMAL(28,8) and round last."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity")
              ).cast("decimal(28,8)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part.filter(F.col("p_name").contains("red"))),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.round(F.sum(amount).cast("double"), 2).alias("profit"))
    )


def q_top_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock scan (TPC-H Q11 shape): parts whose revenue
    exceeds 1.25x the MEAN per-part revenue — the HAVING-against-
    global-scalar-subquery pattern, with a scale-invariant threshold
    (the official Q11 divides its fraction by SF for the same reason:
    a fixed share of total yields zero rows as the part count grows).
    Spark-first: the global (total, part-count) is a one-row aggregate
    broadcast into the per-part relation — no correlated subquery, no
    second scan; the per-part aggregate reuses the same shuffle. Both
    sides of the 4*prev*n_parts > 5*total compare are exact decimals/
    bigints, cast to DOUBLE only for the final identical-in-both-
    engines comparison."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(rev).alias("_prev"), F.count(F.lit(1)).alias("n_items"))
    total = per_part.agg(F.sum("_prev").alias("_tot"),
                         F.count(F.lit(1)).alias("_nparts"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter((F.col("_prev") * 4 * F.col("_nparts")).cast("double")
                > (F.col("_tot") * 5).cast("double"))
        .select(F.col("l_partkey").alias("p_partkey"), "n_items",
                F.round(F.col("_prev").cast("double"), 2)
                 .alias("part_revenue"))
    )


def q_urgent_shipping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode priority split (TPC-H Q12 shape): for lineitems
    shipped in 1998, per line class (l_returnflag stands in for the
    absent l_shipmode), count lines on URGENT/HIGH-priority orders vs
    all others — the two CASE-sum columns over one orders join.
    Lateness-window semantics (commit/receipt dates) are unavailable in
    the fixture; the conditional-aggregation shape is what's under
    test."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01")
        & (F.col("l_shipdate") < "1999-01-01"))
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("line_class"))
        # when/otherwise (not a bare cast) so a NULL priority counts
        # as low, exactly like the oracle's CASE ... ELSE 1 branch
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"))
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (TPC-H Q14 shape): the percentage of March-1998
    revenue coming from PROMO-type parts — conditional sum over total
    sum, one lineitem-part join. Both sums are decimal-exact; the
    division (x100) happens once, in DOUBLE, identically in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-03-01")
        & (F.col("l_shipdate") < "1998-04-01"))
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
           ).cast("decimal(28,8)")
    zero = F.lit(0).cast("decimal(28,8)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.round(F.lit(100.0)
                     * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                             .otherwise(zero)).cast("double")
                     / F.sum(rev).cast("double"), 6)
              .alias("promo_revenue_pct"))
    )


def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship count (TPC-H Q16 shape): how many
    DISTINCT suppliers ship each (brand, type, size) combination,
    excluding a brand, a type prefix, and "complaint" suppliers — the
    NOT-IN anti-join + COUNT(DISTINCT) group. The partsupp relation is
    re-keyed onto lineitem's observed (l_partkey, l_suppkey) pairs;
    the complaint predicate stands on s_acctbal < 0 (the fixture
    supplier has no comment column). Distinct pairs are taken BEFORE
    the count so the aggregate never sees duplicate supplier rows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    complain = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (li.select("l_partkey", "l_suppkey").distinct()
             .join(F.broadcast(complain),
                   F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"))
    keep = part.filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").startswith("SMALL"))
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    return (
        pairs.join(F.broadcast(keep),
                   F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-inventory suppliers (TPC-H Q20 shape): NATION_1 suppliers
    who, for at least one part whose name starts with "red", shipped
    MORE THAN HALF of that part's total 1998 quantity. The nested
    IN-subqueries with a correlated scalar aggregate become two
    map-side-combined aggregates (per (part, supplier) and per part)
    joined on the part key, a decimal-free integral 2x cross-multiplied
    threshold, and a LEFT SEMI join into supplier — no correlated
    execution anywhere. availqty does not exist without partsupp;
    quantity share preserves the correlated-threshold shape."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01")
        & (F.col("l_shipdate") < "1999-01-01"))
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    red = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    sel = li.join(F.broadcast(red),
                  F.col("l_partkey") == F.col("p_partkey"))
    per_ps = sel.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("_sq"))
    per_p = sel.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("_tq"))
    dominant = (per_ps.join(per_p, F.col("l_partkey") == F.col("_pk"))
                .filter(F.col("_sq") * 2 > F.col("_tq"))
                .select("l_suppkey").distinct())
    nat1 = nation.filter(F.col("n_name") == "NATION_1")
    return (
        supplier.join(F.broadcast(nat1),
                      F.col("s_nationkey") == F.col("n_nationkey"))
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"),
              "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality rule set (operators.text.
    gopher_rules — Rae et al. 2021 thresholds) over documents:
    per-doc metrics, one boolean per rule, and the conjunction.
    min_words=40 sits inside the fixture's token-count distribution so
    the verdict is genuinely MIXED (both branches of every word-count
    compare are exercised); the line-fraction rules are trivially true
    on single-line fixture docs (faithful: they target list pages) and
    carry their own multi-line unit fixtures."""
    from dump1090_db_stream_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs, min_words=40)


def q_c4_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning heuristics (operators.cleaning.c4_line_filter —
    Raffel et al. 2020 §2.2) over documents: line counts, drop verdict
    + reason, and the cleaned text. Fixture docs are single-line
    without terminal punctuation, so every doc drops as
    too_few_lines — the hash still pins the full rule pipeline
    (split/filter/rejoin/verdict); multi-line rule behavior is pinned
    by tests/test_cleaning.py."""
    from dump1090_db_stream_spark.operators.cleaning import c4_line_filter

    docs = load_table(spark, sf_dir, "documents")
    return c4_line_filter(docs)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators.similarity.semantic_dedup): portable k-means
    clustering + within-cluster rounded-cosine pairs + smallest-id
    survivor rule, (id, cluster, kept) for every embedding. The DuckDB
    oracle replays the ENTIRE pipeline closed-form — the md5-ranked
    training sample, both Lloyd iterations, corpus assignment
    (reusing the embedding_ivf_trained replay prefix), the pair
    predicate, and the anti-join — so the hash proves training,
    assignment, and dedup agree bit-for-bit across engines."""
    from dump1090_db_stream_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, dim=64, threshold=0.99, n_clusters=8,
                          n_iters=2, train_sample=64)


def _semantic_dedup_oracle(threshold: float = 0.99) -> str:
    """Training/assignment prefix shared with the IVF replay, then the
    within-cluster pair predicate (rounded cosine, a.id < b.id) and the
    smallest-id survivor anti-join."""
    prefix = _ivf_trained_oracle(prefix_only=True)
    rng = "range(1, 65)"
    return prefix + f""", dup AS (
                SELECT DISTINCT b.neighbor_id AS dup_id
                FROM clustered a JOIN clustered b
                  ON a.cid = b.cid AND a.neighbor_id < b.neighbor_id
                WHERE round(list_sum(list_transform({rng},
                          i -> a.embedding[i]::DOUBLE
                               * b.embedding[i]::DOUBLE))
                          / (a.nrm * b.nrm), 6) >= {threshold!r}
            )
            SELECT c.neighbor_id AS vec_id, c.cid AS cluster,
                   (d.dup_id IS NULL) AS kept
            FROM clustered c LEFT JOIN dup d
              ON c.neighbor_id = d.dup_id
        """


def q_pagerank_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (operators.graph.pagerank) over the exact
    cosine near-dup graph — the representative-picking signal for dedup
    clusters. Three fixed iterations, damping 0.85; contributions fold
    in source-id order, so the DuckDB oracle replays every iteration
    bit-for-bit (list_sum over ORDER BY src lists) on top of the same
    n^2 pair predicate the cosine_neardup_pairs oracle uses."""
    from dump1090_db_stream_spark.operators.graph import pagerank
    from dump1090_db_stream_spark.operators.similarity import (
        exact_cosine_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    edges = exact_cosine_pairs(emb, threshold=0.35)
    return pagerank(emb, edges, n_iters=3, damping=0.85,
                    id_col="vec_id")


def _pagerank_iters_sql(n_iters: int, damping: float,
                        out_id: str) -> str:
    """The unrolled PageRank iteration CTEs + final select, shared by
    every pagerank oracle. Expects CTEs ``e(src, dst)`` (symmetric),
    ``deg(src, deg)``, ``cnt(nn)``, ``allnodes(id)``, ``r0(id, rank)``
    in scope. One CTE pair (ordered-fold contribution sum + rank
    update) per iteration; (1-d)/N and 1/N are IEEE-identical across
    engines; floor-based micro-quantization on output."""
    its = []
    for t in range(n_iters):
        its.append(f"""s{t} AS (
                SELECT dst, list_sum(list(c ORDER BY src)) AS s
                FROM (
                    SELECT e.dst, e.src, r.rank / d.deg AS c
                    FROM e e JOIN r{t} r ON e.src = r.id
                    JOIN deg d ON e.src = d.src)
                GROUP BY dst
            ), r{t + 1} AS (
                SELECT n.id,
                       CAST({1.0 - damping!r} AS DOUBLE)
                       / (SELECT nn FROM cnt)
                       + CAST({damping!r} AS DOUBLE)
                         * coalesce(s.s, 0.0) AS rank
                FROM allnodes n LEFT JOIN s{t} s ON n.id = s.dst
            )""")
    return f""", {', '.join(its)}
            SELECT id AS {out_id},
                   floor(rank * 1e6 + 0.5) / 1e6 AS pagerank
            FROM r{n_iters}
        """


def _pagerank_oracle(n_iters: int = 3, damping: float = 0.85,
                     threshold: float = 0.35) -> str:
    """Unrolled PageRank replay over the symmetric rounded-cosine edge
    set; iterations via :func:`_pagerank_iters_sql`."""
    return f"""
            WITH nrm AS (
                SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM embeddings
            ), e AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
                WHERE round(list_sum(list_transform(
                          range(1, length(a.embedding) + 1),
                          i -> a.embedding[i]::DOUBLE
                               * b.embedding[i]::DOUBLE))
                          / (a.nrm * b.nrm), 6) >= {threshold!r}
            ), deg AS (
                SELECT src, count(*) AS deg FROM e GROUP BY src
            ), cnt AS (
                SELECT count(*) AS nn FROM embeddings
            ), allnodes AS (
                SELECT vec_id AS id FROM embeddings
            ), r0 AS (
                SELECT id, 1.0 / (SELECT nn FROM cnt) AS rank
                FROM allnodes
            ){_pagerank_iters_sql(n_iters, damping, "vec_id")}"""


def _pagerank_docs_oracle(n_iters: int = 3,
                          damping: float = 0.85) -> str:
    """PageRank over the MinHash-LSH near-dup DOCUMENT graph — the
    SCALE-PATH composition: the edge set is the full minhash pipeline
    replay (signatures, band buckets, candidates, exact-Jaccard
    verify — the minhash_lsh_dups oracle verbatim), then the shared
    iteration tail. Proves the bucketed pair source and the iterative
    centrality agree with Spark end to end."""
    return f"""
            WITH pairs AS ({_minhash_lsh_oracle()}),
            e AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b AS src, id_a AS dst FROM pairs
            ), deg AS (
                SELECT src, count(*) AS deg FROM e GROUP BY src
            ), cnt AS (
                SELECT count(*) AS nn FROM documents
            ), allnodes AS (
                SELECT doc_id AS id FROM documents
            ), r0 AS (
                SELECT id, 1.0 / (SELECT nn FROM cnt) AS rank
                FROM allnodes
            ){_pagerank_iters_sql(n_iters, damping, "doc_id")}"""

def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators.text.winnow_fingerprints —
    Schleimer et al. SIGMOD'03, the MOSS algorithm): positioned
    rightmost-window-minimum selection over md5 shingle hashes, k=3
    w=4. The oracle replays hash, window cover, and tie-break
    closed-form."""
    from dump1090_db_stream_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, w=4)


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch assignment (operators.packing.
    length_grouped_batches): token-length buckets, seeded-hash shuffle
    within bucket, fixed batch size, per-batch padding-waste audit.
    Deterministic via the portable hash, replayed exactly in SQL."""
    from dump1090_db_stream_spark.operators.packing import (
        length_grouped_batches,
    )

    docs = load_table(spark, sf_dir, "documents")
    return length_grouped_batches(docs, batch_size=8, bucket_width=16,
                                  seed=3)


def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score (operators.relevance.bigram_logprob,
    Jelinek-Mercer lambda=0.75): the quality rung above
    doc_unigram_logprob — catches shuffled-word gibberish whose
    unigrams are all common."""
    from dump1090_db_stream_spark.operators.relevance import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, lam=0.75)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators.sampling.dsir_logweights —
    Xie et al. 2023): hashed unigram+bigram features, target = English
    documents, Laplace-smoothed log importance ratio per doc. The
    portable 60-bit md5 bucket hash lets the oracle replay feature
    hashing, both count dimensions, and the ratio closed-form."""
    from dump1090_db_stream_spark.operators.sampling import dsir_logweights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_logweights(docs, F.col("lang") == "en", n_buckets=4096)


def q_doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RedPajama-V2-style per-document QUALITY-SIGNALS table: one
    wide row per doc joining four independently-oracled signal families
    (quality features, char entropy, 2-gram repetition, the Gopher
    verdict) on the primary key — the artifact downstream filtering
    thresholds are tuned against. Each component is its own
    map-side-combined pass; the id joins carry narrow metric rows only
    (AQE broadcasts the small sides), and the oracle is the literal
    composition of the four component oracles."""
    from dump1090_db_stream_spark.operators.cleaning import repetition_stats
    from dump1090_db_stream_spark.operators.text import (
        char_entropy,
        gopher_rules,
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = quality_features(docs).drop("text")
    e = char_entropy(docs).select("doc_id", "entropy")
    r = repetition_stats(docs, n=2).select("doc_id", "top_frac",
                                           "dup_frac")
    g = gopher_rules(docs, min_words=40).select("doc_id", "gopher_pass")
    return q.join(e, "doc_id").join(r, "doc_id").join(g, "doc_id")


def q_pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the MinHash-LSH near-dup document graph — the
    SCALE-PATH pairing of graph.pagerank (pagerank_neardups uses the
    exact all-pairs validator as its edge source; this one feeds the
    bucketed LSH pair relation, the shape that survives 100 TB). Same
    LSH parameters as minhash_lsh_dups, so the oracle composes that
    query's full pipeline replay with the shared iteration tail."""
    from dump1090_db_stream_spark.operators.dedup import minhash_lsh_pairs
    from dump1090_db_stream_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=8,
                              threshold=0.03, portable_base_hash=True)
    return pagerank(docs, pairs.select("id_a", "id_b"), n_iters=3,
                    id_col="doc_id")


def q_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitor (operators.profiling.psi_drift): first half of
    the event month as the reference snapshot, second half as current,
    per event type — the retrain/alarm gate metric. Bin edges derive
    from the reference extent; shares are Laplace-smoothed closed-form,
    so the oracle replays the exact PSI."""
    from dump1090_db_stream_spark.operators.profiling import psi_drift

    ev = _events(spark, sf_dir)
    ref = ev.filter(F.col("ts") < "2024-01-16")
    cur = ev.filter(F.col("ts") >= "2024-01-16")
    return psi_drift(ref, cur, "value", keys=["event_type"], n_bins=10)


def q_embedding_standardized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization (operators.similarity.
    standardize_embeddings): decimal-exact order-independent moments,
    IEEE-double transform — replayed closed-form by the oracle. The
    contract output is the LONG form (vec_id, d, std_value): the
    driver's value-hash has no array-type normalization, and the
    exploded form hashes every element individually anyway."""
    from dump1090_db_stream_spark.operators.similarity import (
        standardize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = standardize_embeddings(emb, dim=64)
    return out.select(
        "vec_id", F.posexplode("std_embedding").alias("d", "std_value")
    ).withColumn("d", F.col("d") + 1)


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, is_en): logistic-squashed DSIR log weight (tau=10)
    against the English label — the eval relation both evaluation
    contract queries rank/bin. The logistic input is the ROUNDED
    log_weight, so both engines transform identical values."""
    from dump1090_db_stream_spark.operators.sampling import dsir_logweights

    docs = load_table(spark, sf_dir, "documents")
    w = dsir_logweights(docs, F.col("lang") == "en", n_buckets=4096)
    return (w.join(docs.select("doc_id", "lang", "source"), "doc_id")
            .select(
                "source",
                (F.lit(1.0)
                 / (F.lit(1.0) + F.exp(-F.col("log_weight") / 10.0)))
                .alias("score"),
                (F.col("lang") == "en").alias("is_en")))


def q_dsir_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC (operators.evaluation.auc_score) of the
    DSIR importance weight as an English-document classifier — the
    rank-sum identity with half-credit ties; every intermediate is
    integer-or-half, so the value is bit-deterministic."""
    from dump1090_db_stream_spark.operators.evaluation import auc_score

    return auc_score(_dsir_scored(spark, sf_dir), "score", "is_en")


def q_dsir_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact ROC AUC (operators.evaluation.auc_score_by):
    does the DSIR weight rank English documents above the rest WITHIN
    each crawl source? The sliced form a corpus eval actually runs —
    an aggregate AUC can hide one source where the score anti-ranks.
    Embarrassingly parallel (group-partitioned rank windows, no global
    ordering anywhere in the plan)."""
    from dump1090_db_stream_spark.operators.evaluation import auc_score_by

    return auc_score_by(_dsir_scored(spark, sf_dir), "score", "is_en",
                        "source")


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval-ranking eval (operators.evaluation.
    ranking_metrics): nDCG@10 / MRR@10 / hit@10 per crawl source over
    a deterministic candidate scoring — each source is one "query",
    its documents the candidate list, score = n_chars/997 (doc_id
    tiebreak), graded relevance 2 = English, 1 = long (n_chars >=
    350), 0 = rest. The top-heavy complement to dsir_auc_by_source:
    AUC measures global pair ordering, nDCG@k weights the head of the
    list where a retriever is actually read. Both DCG folds run in
    position order (ordered-fold discipline) so the oracle replays
    them bit-for-bit."""
    from dump1090_db_stream_spark.operators.evaluation import (
        ranking_metrics,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = docs.select(
        "source", "doc_id",
        (F.col("n_chars").cast("double") / 997).alias("score"),
        F.when(F.col("lang") == "en", 2)
         .when(F.col("n_chars") >= 350, 1)
         .otherwise(0).alias("rel"))
    return ranking_metrics(cand, "source", "doc_id", "score", "rel",
                           k=10)


def q_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the fixed-quantizer IVF index against the
    brute-force exact top-k (operators.similarity.ann_recall) — the
    index-quality number an ANN deployment monitors per probe-count
    dial. Composes the two existing contract queries; the oracle
    composes their two oracle CTEs and replays the count join, so the
    recall values are closed-form. n_probes=4 of 8 cells means the
    IVF list legitimately misses some exact neighbors — recall < 1 is
    the honest, non-degenerate signal being measured."""
    from dump1090_db_stream_spark.operators.similarity import ann_recall

    return ann_recall(q_embedding_topk(spark, sf_dir),
                      q_embedding_ivf_topk(spark, sf_dir))


def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the random-hyperplane LSH index against the
    brute-force exact top-k — the band-count dial's recall side
    (operators.similarity.ann_recall over the embedding_lsh_topk and
    embedding_topk contract queries; oracle composed from their two
    closed-form CTEs). 8 planes x 6 tables means bucket collisions
    legitimately miss some exact neighbors; a regression in the
    signature or collision logic now lands a driver hash, not just a
    unit test (r9 verdict ask #4)."""
    from dump1090_db_stream_spark.operators.similarity import ann_recall

    return ann_recall(q_embedding_topk(spark, sf_dir),
                      q_embedding_lsh_topk(spark, sf_dir))


def q_ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF+PQ index (coarse probe pruning + ADC
    scoring) against the brute-force exact top-k — the compound
    probes x bit-budget dial's recall side. Composes the
    embedding_ivfpq_topk and embedding_topk contract queries; the
    oracle composes their two closed-form replays (r9 verdict ask #4:
    every ANN ladder arm's recall is now driver-hashed)."""
    from dump1090_db_stream_spark.operators.similarity import ann_recall

    return ann_recall(q_embedding_topk(spark, sf_dir),
                      q_embedding_ivfpq_topk(spark, sf_dir))


def q_ann_recall_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8-quantized cosine arm against the
    brute-force float exact top-k — the quantization-loss dial (how
    many true neighbors does 8-bit scale-cancelled cosine drop)."""
    from dump1090_db_stream_spark.operators.similarity import ann_recall

    return ann_recall(q_embedding_topk(spark, sf_dir),
                      q_embedding_quantized_topk(spark, sf_dir))


def q_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the pure-PQ ADC arm (fixed codebooks, m=8 codes)
    against the brute-force exact top-k. The PQ contract query runs a
    3-query eval set (vec_id < 3) where the other arms run 5, so the
    exact arm is FILTERED to the same queries — recall must only be
    scored for queries the approximate arm actually searched."""
    from dump1090_db_stream_spark.operators.similarity import ann_recall

    exact = q_embedding_topk(spark, sf_dir).filter(F.col("query_id") < 3)
    return ann_recall(exact, q_embedding_pq_topk(spark, sf_dir))


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary coverage over BIGRAM units (operators.
    relevance.vocabulary_coverage): Good-Turing unseen mass n1/N and
    bias-corrected Chao1 richness — the is-more-of-this-source-novel
    report. Bigrams because the synthetic corpus's unigram vocabulary
    saturates (~31 types everywhere); the bigram grid (~700 types,
    ~300 singletons per source at sf0.01) gives the estimators real
    structure. Exact integer aggregates end-to-end."""
    from dump1090_db_stream_spark.operators.relevance import (
        vocabulary_coverage,
    )

    docs = load_table(spark, sf_dir, "documents")
    return vocabulary_coverage(docs, "source", "text", unit="bigram")


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source smoothed KL divergence to the pooled corpus over
    bigram units (operators.relevance.corpus_divergence, alpha=0.5) —
    the domain-shift ranking data-mixing work reweights by. The
    unobserved tail is closed-form off two scalars; per-term double
    contributions are 1e-9-quantized and summed as exact decimals, so
    the oracle replays the sums order-independently."""
    from dump1090_db_stream_spark.operators.relevance import (
        corpus_divergence,
    )

    docs = load_table(spark, sf_dir, "documents")
    return corpus_divergence(docs, "source", "text", unit="bigram",
                             alpha=0.5)


def q_word_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Non-default tokenizer contract (r10 verdict ask #5): the
    unicode-category "word" tokenizer ([\p{L}\p{N}]+ — the same
    general-category classes in Java regex and RE2) through the
    text.with_tokens seam, over a DERIVED text that makes the
    tokenizers genuinely differ on this ASCII corpus: punctuation
    injected around 'value' and a unicode suffix appended (accented
    letters kept as letters, dashes/symbols dropped). Per-source token
    count, distinct types, and character mass; hash-equality with the
    DuckDB replay proves the seam's non-default arm engine-faithful,
    while every pre-seam oracle (unchanged) pins the default arm
    bit-identical."""
    from dump1090_db_stream_spark.operators.text import with_tokens

    docs = load_table(spark, sf_dir, "documents")
    derived = docs.select(
        "source",
        F.concat(
            F.replace(F.col("text"), F.lit(" value "),
                      F.lit(", value; ")),
            F.lit(" — café №42 (naïve)")).alias("txt"))
    toked = with_tokens(derived, "txt", "_toks", tokenizer="word")
    return (toked.select("source", F.explode("_toks").alias("tok"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.countDistinct("tok").alias("n_types"),
                 F.sum(F.length("tok")).cast("long").alias("n_chars")))


def q_unimax_epoch_manifest(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """UniMax made material (operators.sampling.unimax_expand): the
    210k-char / 1.5-epoch allocation expanded into the actual
    epochized training manifest — floor(epochs) full copies per
    document plus a fractional extra copy by deterministic seeded
    Bernoulli (quantized-integer accept compare). At sf0.01 the mixed
    regime makes this real: capped sources repeat at 1.5 epochs (every
    doc once, half the docs twice), theta sources subsample below one
    epoch. The oracle composes the full water-filling replay with the
    same hash draw and range expansion."""
    from dump1090_db_stream_spark.operators.sampling import (
        unimax_allocation,
        unimax_expand,
    )

    docs = load_table(spark, sf_dir, "documents")
    alloc = unimax_allocation(docs, budget_tokens=210_000,
                              max_epochs="1.5", source_col="source",
                              token_col="n_chars")
    return unimax_expand(docs, alloc, id_col="doc_id",
                         source_col="source", seed=11)


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Third arm of the tokenizer seam: the GPT-2-style BPE
    pre-tokenizer (text.bpe_ish_tokens — words | numbers | single
    punctuation marks, [A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]) over the same
    punctuation-injected derived text as word_token_stats, so
    punctuation becomes REAL tokens here rather than being dropped.
    Per-source token count, distinct types, and the count of
    single-char punctuation tokens; RE2 and Java regex replay the
    alternation identically (prototype-verified incl. the non-ASCII
    single-char fallthrough)."""
    from dump1090_db_stream_spark.operators.text import with_tokens

    docs = load_table(spark, sf_dir, "documents")
    derived = docs.select(
        "source",
        F.concat(
            F.replace(F.col("text"), F.lit(" value "),
                      F.lit(", value; ")),
            F.lit(" — café №42 (naïve)")).alias("txt"))
    toked = with_tokens(derived, "txt", "_toks", tokenizer="bpe_ish")
    return (toked.select("source", F.explode("_toks").alias("tok"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.countDistinct("tok").alias("n_types"),
                 F.sum((~F.col("tok").rlike("^[A-Za-z0-9]"))
                       .cast("long")).alias("n_punct")))


def q_quality_classifier_scores(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Model-based quality filter (operators.classify — the CCNet /
    GPT-3-style learned "looks like the reference corpus" scorer,
    NBSVM-baseline form): closed-form Naive-Bayes log-count-ratio
    weights over hashed uni+bigram features (Wang & Manning 2012),
    trained on the lang='en' pseudo-label in ONE corpus scan, then
    every document scored with the mean-bucket-weight sigmoid. The
    oracle replays the ENTIRE train-then-score pipeline closed-form:
    portable md5 bucket hash, exact-integer count ratios into ln,
    1e-9-quantized decimal score sums, sigmoid rounded 6."""
    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
        hashed_unit_buckets,
        nb_logodds_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.withColumn("_y", F.col("lang") == "en")
    # one tokenize -> n-gram -> explode -> hash pass feeds BOTH the
    # trainer and the scorer (r15, guide §2.4) — previously each
    # re-featurized the whole corpus; released by the caller's
    # release_tracked()
    occ = track(hashed_unit_buckets(labeled, ["doc_id", "_y"],
                                    n_buckets=1024, ngrams=(1, 2)))
    w = nb_logodds_weights(labeled, "_y", n_buckets=1024,
                           ngrams=(1, 2), alpha=1.0, unit_buckets=occ)
    return classifier_scores(docs, w, n_buckets=1024, ngrams=(1, 2),
                             unit_buckets=occ)


def q_classifier_pareto_sample(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The GPT-3 quality-filtering pipeline end-to-end (operators.
    classify + operators.sampling.pareto_quality_filter, Brown et al.
    2020 Appendix A): train the NB-weighted hashed-n-gram classifier
    on the lang='en' pseudo-label, score every document, then keep a
    document iff a deterministic seeded Pareto(9) draw exceeds
    1 - prob — high scorers always survive, low scorers survive with
    heavy-tailed probability (tail diversity a hard threshold would
    destroy). The acceptance compare happens on 1e-9-quantized
    integers so a ~1-ulp cross-engine pow() difference cannot flip a
    knife-edge row; the oracle replays train -> score -> draw ->
    accept closed-form."""
    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
        hashed_unit_buckets,
        nb_logodds_weights,
    )
    from dump1090_db_stream_spark.operators.sampling import (
        pareto_quality_filter,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.withColumn("_y", F.col("lang") == "en")
    # shared featurization pass (r15) — see q_quality_classifier_scores
    occ = track(hashed_unit_buckets(labeled, ["doc_id", "_y"],
                                    n_buckets=1024, ngrams=(1, 2)))
    w = nb_logodds_weights(labeled, "_y", n_buckets=1024,
                           ngrams=(1, 2), alpha=1.0, unit_buckets=occ)
    scores = classifier_scores(docs, w, n_buckets=1024, ngrams=(1, 2),
                               unit_buckets=occ)
    return pareto_quality_filter(scores, "prob", alpha=9.0,
                                 id_col="doc_id", seed=1)


def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax training-budget allocation (operators.sampling.
    unimax_allocation — Chung et al., ICLR 2023): water-fill a
    210k-char budget across crawl sources with a 1.5-epoch cap, chars
    as the token proxy. At sf0.01 the parameters land in the MIXED
    regime (small sources capped at full capacity, large ones at the
    common water level) — the regime where the closed-form actually
    decides something; the oracle replays the sorted-prefix capping
    test and the full-frame theta windows over exact DECIMALs."""
    from dump1090_db_stream_spark.operators.sampling import (
        unimax_allocation,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unimax_allocation(docs, budget_tokens=210_000,
                             max_epochs="1.5", source_col="source",
                             token_col="n_chars")


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-stage corpus-filter funnel (operators.cleaning.
    filter_funnel): nonempty -> length gate -> English -> no
    blocklist term (the C4 bad-words rule; 'slow' stands in for the
    list) -> exact-text unique (the duplicate count precomputed as a
    window over md5(text) — the row-local-predicate contract).
    Cumulative conjunction, fail-closed NULLs; one aggregate over the
    corpus, five rows out."""
    from pyspark.sql import Window

    from dump1090_db_stream_spark.operators.cleaning import filter_funnel

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.withColumn(
        "_dupn", F.count(F.lit(1)).over(
            Window.partitionBy(F.md5(F.col("text")))))
    return filter_funnel(staged, [
        ("nonempty", F.col("text").isNotNull() & (F.col("n_chars") > 0)),
        ("length_100_450", F.col("n_chars").between(100, 450)),
        ("english", F.col("lang") == "en"),
        ("no_blocklist_term", ~F.col("text").rlike(r"\bslow\b")),
        ("unique_text", F.col("_dupn") == 1),
    ])


def q_dsir_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins (operators.evaluation.calibration_bins) of the
    logistic-squashed DSIR weight vs the English label: per-bin count,
    mean confidence, empirical accuracy."""
    from dump1090_db_stream_spark.operators.evaluation import (
        calibration_bins,
    )

    return calibration_bins(_dsir_scored(spark, sf_dir), "score",
                            "is_en", n_bins=10)


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-churn curve (operators.journeys.
    survival_curve): censoring-aware survival over event-table
    lifetimes, censor gap 5 days. The ordered-window KM fold replays
    exactly in SQL (running window sums are sequential in both
    engines)."""
    from dump1090_db_stream_spark.operators.journeys import survival_curve

    return survival_curve(_events(spark, sf_dir), censor_gap_days=5)


def q_score_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (operators.sampling.
    quantile_normalize) of document length (n_chars) across sources —
    the batch-effect harmonization step; discrete global-value mapping
    replays exactly (percent_rank windows + bucket join, (value, id)
    total order)."""
    from dump1090_db_stream_spark.operators.sampling import (
        quantile_normalize,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize(docs, "n_chars", "source", n_quantiles=20)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (Sennrich et al. 2016): 12 merges
    learned over the documents corpus through the unicode-word
    tokenizer seam, via operators.bpe.train_bpe_local. The corpus
    collapses ONCE into the word-type relation (one distributed count,
    a vocabulary-bounded collect); the sequential merge loop runs
    driver-side. The oracle re-derives every merge itself — 12
    unrolled MATERIALIZED stages ending in the same (cnt DESC, lhs,
    rhs) argmax — so hash-equality proves the full training
    trajectory, not just the final table."""
    from dump1090_db_stream_spark.operators.bpe import merges_df

    return merges_df(spark, _trained_merges_k(spark, sf_dir, 12))


def _trained_merges_k(spark: SparkSession, sf_dir: str,
                      n_merges: int) -> list:
    """Train ``n_merges`` merges on the documents corpus. Every caller
    trains afresh, so each query's time includes its training."""
    from dump1090_db_stream_spark.operators.bpe import train_bpe_local

    return train_bpe_local(load_table(spark, sf_dir, "documents"), n_merges)


def q_bpe_merges_k64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at realistic merge depth (K=64) through
    operators.bpe.train_bpe_local: one distributed word-type count,
    collected (vocabulary-bounded by construction), then classic fast
    BPE in driver Python — inverted pair->words index +
    lazy-invalidation heap. 32k merges over a 200k-type vocabulary
    train in ~33 s (SCALE.md r13). The oracle independently re-derives
    all 64 merges (64 unrolled MATERIALIZED stages), so hash-equality
    proves the full 64-step trajectory. Registered twice: as
    ``bpe_merges_k64`` and as ``bpe_merges_k64_local``, the name the
    driver-local trainer was first registered under."""
    from dump1090_db_stream_spark.operators.bpe import merges_df

    return merges_df(spark, _trained_merges_k(spark, sf_dir, 64))


def q_bpe_vocab_k64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-merge vocabulary through the CHUNKED encode path
    (operators.bpe.encode_words_chunked): merges apply in fold batches
    with an eager localCheckpoint between batches, so no plan is ever
    more than ``chunk`` folds deep no matter how long the merge list —
    the shape a 32k-merge corpus encode needs. chunk=4 since r13: the
    vocabulary explode pays super-linearly for the residual fold depth
    feeding it (measured 16 s at depth 12 vs 0.5 s at depth 4 —
    bpe_vocab's docstring), so the batch size that was right for a
    plain projection chain is wrong in front of a Generate. The oracle
    replays training AND encoding from scratch at K=64."""
    from dump1090_db_stream_spark.operators.bpe import bpe_vocab

    docs = load_table(spark, sf_dir, "documents")
    return bpe_vocab(docs, _trained_merges_k(spark, sf_dir, 64),
                     chunk=4)


def q_pipeline_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END LLM-data-pipeline capstone (r11 verdict stretch ask
    #8) — the full corpus-preparation flow as ONE composed, oracled
    contract over documents:

      1. hygiene: Gopher rule conjunction (operators.text.gopher_rules,
         min_words=40 — the gopher_quality contract's thresholds);
      2. exact dedup: keep the min doc_id per md5(text) (computed over
         the FULL corpus, before any filter — dedup decisions must not
         depend on filter order);
      3. near dedup: n-gram-Jaccard pairs -> connected components ->
         canonical map (the neardup_clusters composition), one
         survivor (min doc_id) per cluster among hygiene survivors;
      4. decontamination: drop docs sharing >= 3 bigrams with the
         planted benchmark set (the benchmark_decontamination refs);
      5. leakage-safe split: hash_split on the CLUSTER key, so no
         near-dup pair straddles train/eval;
      6. mixture: temperature sampling (alpha=0.5, seeded portable
         hash) over the TRAIN split only;
      7. packing: the mixed train docs fill ~2048-char sequences
         (bucketed greedy running-sum, n_buckets=16).

    Output: one row per split — (split, n_docs, n_chars_total,
    n_sources, n_sequences), n_sequences counting distinct
    (bucket, bin) packed train sequences (0 for val/test). Every stage
    is a previously-oracled operator; the DuckDB replay recomposes ALL
    SEVEN from scratch, so the hash pins the whole pipeline's row flow,
    not just each stage in isolation. Scale shape: stages are the
    registered operators' plans unchanged (pair graph never all-pairs,
    canonical map over the pair graph only, split/mixture pure
    projections off broadcast rate relations, packing one bounded
    window); the only additions are equi-joins on doc_id.
    """
    split, mixed, packed = _capstone_stages(spark, sf_dir)
    pool = (split.filter(F.col("split") != "train")
            .select("doc_id", "source", "n_chars", "split",
                    F.lit(None).cast("int").alias("bucket"),
                    F.lit(None).cast("long").alias("bin"))
            .unionByName(mixed.join(packed, "doc_id")
                         .select("doc_id", "source", "n_chars", "split",
                                 "bucket", "bin")))
    seq_key = F.when(
        F.col("split") == "train",
        F.concat_ws(":", F.col("bucket").cast("string"),
                    F.col("bin").cast("string")))
    return (pool.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("n_chars_total"),
                 F.countDistinct("source").alias("n_sources"),
                 F.countDistinct(seq_key).alias("n_sequences"))
            .select("split", "n_docs", "n_chars_total", "n_sources",
                    "n_sequences"))


def _capstone_stages(spark: SparkSession, sf_dir: str):
    """Stages 1-7 of the pipeline capstone (see q_pipeline_capstone's
    docstring), shared with q_capstone_export: returns the
    (split, mixed, packed) relations — the full split assignment, the
    temperature-mixed train docs, and their packed (bucket, bin)
    layout."""
    from pyspark.sql import Window

    from dump1090_db_stream_spark.operators.dedup import (
        _hash64,
        ngram_jaccard_pairs,
    )
    from dump1090_db_stream_spark.operators.graph import canonical_map
    from dump1090_db_stream_spark.operators.packing import pack_sequences
    from dump1090_db_stream_spark.operators.sampling import (
        hash_split,
        temperature_sample,
    )
    from dump1090_db_stream_spark.operators.text import (
        gopher_rules,
        shingles,
        with_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    refs = (docs.filter(F.col("doc_id").isin(3, 47, 90))
            .select(F.col("doc_id").alias("ref_id"),
                    F.concat_ws(" ", F.slice(
                        F.split(F.trim(F.col("text")), r"\s+"),
                        1, 12)).alias("text")))

    # ONE-PASS per-doc featurization (r15, guide §2.3/§2.4): hygiene,
    # decontamination, the exact-dup digest and the near-dup shingle
    # index previously ran as FOUR independent scans+tokenizations of
    # documents.text — the gopher projection, cross_ngram_overlap's
    # doc-side bigram explode + (doc, ref) shuffle aggregation,
    # jaccard's shingle pass, and md5 computed separately for the
    # dup-aggregate and join sides — stitched back per flag with an
    # equi-join and an anti-join. One projection now computes every
    # per-doc column in a single pass over text; track() materializes
    # it once and every stage below reads the cache (this REPLACES
    # ngram_jaccard_pairs' internal index persist via its
    # shingle_index seam, so total cached volume is unchanged: the
    # trigram hash arrays here are the same longs the exploded index
    # held, minus the duplicated ids).
    #
    # Decontamination equivalence: cross_ngram_overlap(docs, refs,
    # n=2, min_common=3) marks doc_ids sharing >= 3 DISTINCT 2-gram
    # hashes (same seed-0 _hash64 family) with SOME ref. The ref side
    # is 3 short rows by construction, so the per-ref distinct hash
    # sets ride ONE broadcast row (a deliberate 1-row cross join) and
    # the identical test evaluates per doc as array_intersect sizes —
    # no corpus-wide bigram explode, no (doc, ref) shuffle, no
    # anti-join. NULL text never matched in the exploded form
    # (explode drops the null shingle array) and never matches here
    # (the NULL-intersect predicate coalesces to false). The doc side's
    # bigram hashes are a per-doc column (_sh2), so the exists lambda
    # only intersects them with each ref set.
    ref_sets = (with_tokens(refs)
                .select("ref_id",
                        F.explode(F.array_distinct(
                            shingles(F.col("_toks"), 2))).alias("s"))
                .select("ref_id", _hash64(F.col("s"), 0).alias("sh"))
                .groupBy("ref_id")
                .agg(F.collect_set("sh").alias("shs"))
                .agg(F.collect_list("shs").alias("_ref_sets")))
    # NULL-SAFE digest (r14 ADVICE): md5(NULL) is NULL and an equi-join
    # drops NULL keys, whereas the window this replaced grouped all
    # NULL-text rows together and kept one survivor — coalesce to a
    # non-hex sentinel (md5 output is [0-9a-f]{32}, so no collision)
    # to preserve that contract.
    _dig = F.coalesce(F.md5("text"), F.lit("\0NULL"))
    doc2 = (with_tokens(docs)
            .withColumn("_h", _dig)
            .withColumn("_sh2", F.transform(
                F.array_distinct(shingles(F.col("_toks"), 2)),
                lambda s: _hash64(s, 0)))
            .withColumn("_sh3", F.transform(
                F.array_distinct(shingles(F.col("_toks"), 3)),
                lambda s: _hash64(s, 0))))
    # min_stop_hits=1: the fixture corpus is synthetic word soup whose
    # only Gopher stopword is 'the' — the paper's >=2 gate would zero
    # the pipeline; the oracle applies the same relaxed conjunction
    g = gopher_rules(doc2, min_words=40, min_stop_hits=1,
                     keep=("source", "n_chars", "_h", "_sh2", "_sh3"))
    feats = (g.crossJoin(F.broadcast(ref_sets))
             .select("doc_id", "source", "n_chars", "_h", "gopher_pass",
                     "_sh3",
                     F.coalesce(
                         F.exists("_ref_sets", lambda r: F.size(
                             F.array_intersect(F.col("_sh2"), r))
                             >= F.lit(3)),
                         F.lit(False)).alias("_contam")))
    # track_local_checkpoint, not track: feats is a LARGE expression
    # tree (gopher HOF metrics + two shingle transforms + the
    # intersect test) and it feeds FIVE downstream branches — with a
    # plain persist every branch still carries the full analyzed tree,
    # and re-canonicalizing it per cache lookup at every composition
    # level measurably dominates construction (the bpe_vocab/ivfpq
    # Catalyst-cost precedent: +2.5 s at sf0.1). The eager checkpoint
    # truncates lineage so every consumer plans against a LogicalRDD
    # leaf; storage volume is the same longs the r14 exploded-index
    # persist held, and release_tracked() frees it like any other
    # operator intermediate.
    from dump1090_db_stream_spark.cache import track, track_local_checkpoint

    feats = track_local_checkpoint(feats)
    sh_idx = feats.select(F.col("doc_id").alias("id"),
                          F.explode("_sh3").alias("sh"))
    canon = canonical_map(
        feats, ngram_jaccard_pairs(docs, n=3, threshold=0.03,
                                   shingle_index=sh_idx))

    # exact-dup minimum via aggregate + equi-join on the digest instead
    # of a window over md5(text) (r14, guide §2.3): the window shuffled
    # every FULL document row — text included — keyed on the digest;
    # here only (digest, doc_id) crosses for the map-side-combined
    # aggregate and a narrow flag projection (off the feats cache) for
    # the join, so document bodies never shuffle. AQE broadcasts the
    # per-digest minimum at bench scale; at 100 TB it stays a keyed
    # equi-join of two narrow relations. Values are identical (min
    # over equal keys either way). The gopher and contamination flags
    # now ride the same cached row, so the r14 plan's gopher equi-join
    # and decontamination anti-join are gone outright.
    exact_min = (feats.select("_h", "doc_id")
                 .groupBy("_h").agg(F.min("doc_id").alias("_exact_min")))
    flt = (feats.select("doc_id", "_h", "source", "n_chars",
                        "gopher_pass", "_contam")
           .join(exact_min, "_h")
           .join(canon, "doc_id")
           .filter(F.col("gopher_pass")
                   & (F.col("doc_id") == F.col("_exact_min"))
                   & ~F.col("_contam")))
    # same narrowing for the cluster minimum: the window input carries
    # only the four columns the survivor projection needs
    w_clust = Window.partitionBy("canonical_id")
    surv = (flt.select("doc_id", "canonical_id", "source", "n_chars")
            .withColumn("_cmin", F.min("doc_id").over(w_clust))
            .filter(F.col("doc_id") == F.col("_cmin"))
            .select("doc_id", "canonical_id", "source", "n_chars"))
    # materialize the split assignment ONCE (r14): it feeds the
    # non-train pool arm, the train filter, the mixture rates AND the
    # packing window — without the barrier each consumer re-executes
    # the whole hygiene/dedup/decontamination pipeline above (Catalyst
    # has no cross-branch reuse; measured 3.4 s of recompute per
    # capstone action at sf0.1). ~survivor-count narrow rows; released
    # by the caller's release_tracked() like every operator
    # intermediate.
    split = track(hash_split(surv, "canonical_id"))

    train = split.filter(F.col("split") == "train")
    mixed = temperature_sample(train, alpha=0.5, seed=0).select(
        "doc_id", "canonical_id", "source", "n_chars", "split")
    packed = pack_sequences(mixed, token_budget=2048, n_buckets=16,
                            n_tokens_col="n_chars").select(
        "doc_id", "bucket", "bin")
    return split, mixed, packed


def q_capstone_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone's EXPORT stage (r12 verdict stretch ask #8): the
    packed train docs leave the engine as newline-delimited JSON
    training shards (sinks.writers.write_jsonl_shards — byte-
    deterministic: shard membership by the portable hash, within-shard
    total order, one Hive-style ``_s=<shard>/`` directory per shard)
    and the returned relation is the SHARD MANIFEST a training job
    consumes — (shard, n_records, n_bytes) measured from the ACTUAL
    bytes on disk (``jsonl_shard_manifest``), never from the frame
    that produced them. The oracle recomposes all seven pipeline
    stages AND the serialized line bytes (Spark's compact to_json ==
    the concat replay on these integer/identifier columns), so a hash
    match proves raw corpus -> training files end to end: row flow,
    shard routing, and every byte written. Bounded by construction:
    the manifest is one row per shard."""
    import shutil
    import tempfile

    from dump1090_db_stream_spark.sinks.writers import (
        jsonl_shard_manifest,
        write_jsonl_shards,
    )

    _, mixed, packed = _capstone_stages(spark, sf_dir)
    exp = (mixed.join(packed, "doc_id")
           .select("doc_id", "source", "n_chars", "split",
                   "bucket", "bin"))
    out_dir = tempfile.mkdtemp(prefix="capstone_export_")
    try:
        write_jsonl_shards(exp, out_dir, shard_by="doc_id", n_shards=4,
                           partition_dirs=True)
        manifest = jsonl_shard_manifest(out_dir)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        manifest, "shard long, n_records long, n_bytes long")


def q_ranksum_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U / Wilcoxon rank-sum drift test
    (operators.drift.ranksum_drift) per event_type between the early
    snapshot (ts < 2024-01-16) and the rest — the LOCATION-drift
    companion to ks_snapshot_drift: doubled rank sums stay exact
    integers (midranks double away), 2R and the tie term accumulate in
    DECIMAL(38,0), and the cumulative counts come from the grouped
    distributed prefix-sum (no unpartitioned ordered window). The
    oracle replays the identical integer derivation with plain SQL
    windows and the same one-shot double conversion order."""
    from dump1090_db_stream_spark.operators.drift import ranksum_drift

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    return ranksum_drift(ev.filter(cutoff), ev.filter(~cutoff),
                         "value", keys=["event_type"])


def q_chisq_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square homogeneity drift (operators.drift.
    chisq_drift) of the event_type CATEGORY mix between the early
    snapshot and the rest — the categorical arm of the drift family
    (KS/W1/rank-sum need an ordered score; the category mix needs
    this). Cell contributions are closed-form doubles of exact
    integers, summed under the quantized-decimal discipline; z_wh is
    the Wilson-Hilferty normal deviate (pure expression, no
    inverse-chi-square table). One whole-table row."""
    from dump1090_db_stream_spark.operators.drift import chisq_drift

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    return chisq_drift(ev.filter(cutoff), ev.filter(~cutoff),
                       "event_type")


def q_jsd_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (operators.drift.js_divergence_drift)
    of the event_type CATEGORY mix between the early snapshot
    (ts < 2024-01-16, NULL-ts excluded on BOTH engines) and the rest —
    the bounded, symmetric effect-size member of the categorical drift
    family next to chisq_snapshot_drift's significance test on the
    SAME mix: JSD lives in [0, 1], stays finite on one-sided
    categories, and sqrt(JSD) is a metric. Per-cell contributions are
    closed-form doubles of exact integers in one pinned expression
    order, 1e-9-quantized DECIMAL(38,0) summation, floor-based 1e-6
    micro-quantization on the outputs (cell terms can be negative —
    round() would diverge on .5 ties). One whole-table row."""
    from dump1090_db_stream_spark.operators.drift import (
        js_divergence_drift,
    )

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    return js_divergence_drift(ev.filter(cutoff), ev.filter(~cutoff),
                               "event_type")


def q_ph_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential changepoint detection (operators.drift.
    page_hinkley_drift) of the hourly mean `value` per event_type —
    the ONLINE member of the drift family (two-sample tests need a
    frozen snapshot pair; this watches the series and reports the
    FIRST epoch-hour whose cumulative upward deviation crosses the
    alarm threshold). All running statistics are exact DECIMAL(38,0)
    windows over the bounded (key, hour-bucket) relation — one
    map-side-combined shuffle from the input grain, the
    weekly_growth/gap_fill precedent — with two pinned IEEE divisions
    (bucket mean, running mean) and a single scaled comparison grain
    shared by drifted/alarm_bucket. The oracle replays the identical
    windows and quantizations."""
    from dump1090_db_stream_spark.operators.drift import (
        page_hinkley_drift,
    )

    ev = load_table(spark, sf_dir, "events")
    return page_hinkley_drift(ev, "value", keys=["event_type"],
                              bucket_seconds=3600, delta=0.05, lam=1.0)


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing utilization audit (operators.packing.
    packing_efficiency) over the pack_sequences layout: per bucket,
    bins used, token mass vs capacity, fill ratio and boundary
    overflows — the pre-run report a training-data engineer reads.
    One bounded aggregation; oracle recomposes the packing replay and
    the same exact-integer ratios."""
    from dump1090_db_stream_spark.operators.packing import (
        pack_sequences,
        packing_efficiency,
    )

    packed = pack_sequences(load_table(spark, sf_dir, "documents"),
                            token_budget=2048, n_buckets=16,
                            n_tokens_col="n_chars")
    return packing_efficiency(packed, token_budget=2048)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE symbol vocabulary (operators.bpe.bpe_vocab):
    train 12 merges, re-encode the word-type table declaratively (the
    merge list is literals, so the encode is one WholeStageCodegen fold
    chain — the shape of the 100 TB corpus encode pass), and aggregate
    per-symbol corpus-weighted occurrences and word-type counts. The
    oracle replays training AND encoding from scratch."""
    from dump1090_db_stream_spark.operators.bpe import bpe_vocab

    docs = load_table(spark, sf_dir, "documents")
    return bpe_vocab(docs, _trained_merges_k(spark, sf_dir, 12))


def q_bpe_encoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source subword compression report for the trained merges
    (operators.bpe.encoded_stats): per-source word counts joined to the
    encoded word-type table (vocabulary-sized x vocabulary-sized plain
    equi-join — at web scale neither side broadcasts and neither needs
    to), yielding words / subword tokens / character mass per source —
    the tokens-per-word diagnostic a tokenizer-training pipeline
    reports. Oracle replays the composition end to end."""
    from dump1090_db_stream_spark.operators.bpe import encoded_stats

    docs = load_table(spark, sf_dir, "documents")
    return encoded_stats(docs, _trained_merges_k(spark, sf_dir, 12))


def q_kfold_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold CV assignment (operators.sampling.
    kfold_assign): seeded portable hash mod k — disjoint, exhaustive,
    stable under dataset growth, re-drawable by seed. Row-level
    contract (every doc's fold hash-checked), pure projection."""
    from dump1090_db_stream_spark.operators.sampling import kfold_assign

    docs = load_table(spark, sf_dir, "documents")
    return kfold_assign(docs, "doc_id", n_folds=5, seed=7).select(
        "doc_id", "source", "fold")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe split (operators.sampling.leakage_safe_split
    composed on dedup.ngram_jaccard_pairs -> graph.canonical_map): the
    split key is the near-dup CLUSTER's canonical id, so no
    near-duplicate pair straddles train/eval (the Lee et al. 2022
    leakage). Row-level contract: doc_id, canonical_id and the split
    label all hash-checked against the oracle's transitive-closure +
    hash-CASE replay."""
    from dump1090_db_stream_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from dump1090_db_stream_spark.operators.graph import canonical_map
    from dump1090_db_stream_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.03)
    canon = canonical_map(docs, pairs)
    return leakage_safe_split(docs, canon).select(
        "doc_id", "canonical_id", "split")


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/z-order clustering key (operators.zorder): uniform
    quantization of (user_id, value) + bit interleave — the key a
    range-clustered write would sort on for multi-dimensional parquet
    data skipping. Pure integer/double arithmetic, so the oracle
    replays every key bit-for-bit; row-level contract over the whole
    events table."""
    from dump1090_db_stream_spark.operators.zorder import (
        quantize_uniform,
        zvalue,
    )

    ev = _events(spark, sf_dir)
    qu = quantize_uniform("user_id", 0, 150, 12)
    qv = quantize_uniform("value", 0, 500, 12)
    return ev.select(
        "event_id",
        qu.alias("q_user"),
        qv.alias("q_value"),
        zvalue([qu, qv], bits=12).alias("zv"))


def q_ks_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift test (operators.drift.ks_drift_by):
    per event_type, the sup-distance between the type's value ECDF and
    the rest of the corpus's, with the classic alpha=0.05 rejection
    threshold and flag. Both cumulative relations come from the
    distributed prefix-sum (grouped + pooled) — no unpartitioned
    ordered window anywhere — and every cumulative is an integer, so
    the oracle's plain SQL windows replay the statistic bit-for-bit
    (the only float ops are divisions of exactly-represented ints)."""
    from dump1090_db_stream_spark.operators.drift import ks_drift_by

    return ks_drift_by(_events(spark, sf_dir), "value", "event_type")


def q_keyness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness (operators.relevance.
    keyness_terms): each source's top-15 signature terms by G^2 over
    the 2x2 (term x source) contingency margins, min_count=5. Every
    statistic is a per-row closed form over four integer counts (all
    products taken in DOUBLE — identical IEEE sequence in the oracle),
    ranked on the ROUNDED g2 with a term tiebreak so both engines
    order identically. Margins aggregate map-side; the term marginal
    joins at vocabulary size; group margins broadcast."""
    from dump1090_db_stream_spark.operators.relevance import keyness_terms

    k = keyness_terms(load_table(spark, sf_dir, "documents"),
                      min_count=5)
    w = Window.partitionBy("source").orderBy(F.col("g2").desc(), "term")
    return (k.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 15)
            .select("source", "term", "c_gt", "n_g", "c_t", "n_all",
                    "g2", "overused", "rk"))


def q_bootstrap_mean_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI (operators.bootstrap.
    bootstrap_mean_ci): per-source mean n_chars with a 95% percentile
    interval over 200 hash-driven Poisson(1) replicates. Weighted sums
    are DECIMAL-exact, each replicate mean is one double division, and
    the rank grid (5th / 196th replicate mean) is Python-computed — so
    the oracle replays every replicate bit-for-bit from the same
    portable hash and threshold literals."""
    from dump1090_db_stream_spark.operators.bootstrap import (
        bootstrap_mean_ci,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bootstrap_mean_ci(docs, "source", "n_chars", "doc_id",
                             n_boot=200, alpha=0.05, seed=11)


def q_ks_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact snapshot-vs-snapshot KS drift (operators.drift.ks_drift):
    first half of the event month as the reference, second half as
    current, per event_type — the retrain/alarm gate q_event_drift
    answers with PSI bins, answered binning-free. Two grouped
    prefix-sum passes over the same (key, score) grain (union counts +
    ref-side counts, zero-filled so they join 1:1); integer
    cumulatives end-to-end, so the oracle replays both CDFs with plain
    SQL windows."""
    from dump1090_db_stream_spark.operators.drift import ks_drift

    ev = _events(spark, sf_dir)
    ref = ev.filter(F.col("ts") < "2024-01-16")
    cur = ev.filter(F.col("ts") >= "2024-01-16")
    return ks_drift(ref, cur, "value", keys=["event_type"])


def q_chars_tokens_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-exact per-source Pearson + OLS (operators.evaluation.
    group_correlation): does document length in chars track length in
    tokens per source — the audit that tells a univariate length
    filter from a disguised token filter. The five sufficient
    statistics accumulate as exact decimals (partition-order
    independent, unlike the built-in corr), and only the closed forms
    run in doubles, one identical IEEE sequence in the oracle."""
    from dump1090_db_stream_spark.operators.evaluation import (
        group_correlation,
    )
    from dump1090_db_stream_spark.operators.text import token_count

    docs = (load_table(spark, sf_dir, "documents")
            .withColumn("n_tokens", token_count("text")))
    return group_correlation(docs, "n_chars", "n_tokens",
                             keys=["source"])


def q_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of each source's term-frequency distribution
    (operators.relevance.vocab_concentration): the head-heaviness /
    boilerplate axis of corpus health. The rank-weighted sum folds
    closed-form over the (group, count)->multiplicity relation with
    the grouped distributed prefix-sum supplying lower-count type
    counts; exact DECIMAL(38,0) accumulations, one final IEEE closed
    form — the oracle replays it with plain SQL windows."""
    from dump1090_db_stream_spark.operators.relevance import (
        vocab_concentration,
    )

    return vocab_concentration(load_table(spark, sf_dir, "documents"),
                               "source")


def q_w1_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wasserstein-1 snapshot drift (operators.drift.w1_drift):
    the integral sibling of ks_snapshot_drift over the same ref/cur
    month split — how far the value mass moved, in value units. CDFs
    and interval widths from ONE grouped prefix-sum pass (prefix_sum.
    distributed_prev_counts_multi with the ordered neighbor,
    ``with_next``) — no unpartitioned ordered window anywhere; the
    per-interval double contributions fold through the 1e-9 quantized
    decimal discipline so the oracle replays the sum bit-for-bit."""
    from dump1090_db_stream_spark.operators.drift import w1_drift

    ev = _events(spark, sf_dir)
    ref = ev.filter(F.col("ts") < "2024-01-16")
    cur = ev.filter(F.col("ts") >= "2024-01-16")
    return w1_drift(ref, cur, "value", keys=["event_type"])


def q_exact_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type value quantiles (operators.profiling.
    exact_quantiles_by): type-1 (smallest value whose inclusive rank
    reaches ceil(p*n)) — always an OBSERVED value, so no
    interpolation-definition drift between engines. Cumulative ranks
    from the grouped distributed prefix-sum (no per-group value
    buffering, no unpartitioned ordered window — the two failure
    modes of Spark's exact percentile at scale); one filtered min per
    (type, prob). Complements event_value_quantiles (the
    percentile_approx tier) with the exact tier."""
    from dump1090_db_stream_spark.operators.profiling import (
        exact_quantiles_by,
    )

    return exact_quantiles_by(
        _events(spark, sf_dir), "value", keys=["event_type"],
        probs=[0.1, 0.25, 0.5, 0.75, 0.9, 0.99])


# --- r14: unigram-LM tokenizer family + drift dashboard ---------------------

def _trained_unigram(spark: SparkSession, sf_dir: str) -> list:
    """Train the unigram-LM model on the documents corpus. Every caller
    trains afresh, so each query's time includes its training."""
    from dump1090_db_stream_spark.operators.unigram import (
        train_unigram_local,
    )

    return train_unigram_local(load_table(spark, sf_dir, "documents"))


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (operators.unigram.train_unigram_local): hard-EM with Viterbi
    E-steps over a bounded substring-candidate seed, integer-quantized
    log2 scores so every DP comparison is engine-portable integer
    arithmetic. One distributed word-type count (a vocabulary-bounded
    collect), then the EM loop in driver Python. The oracle replays
    the ENTIRE trajectory closed-form — seed substring enumeration,
    every EM iteration's per-prefix-length DP unroll, count
    re-estimation — the bpe_merges_k64 discipline."""
    from dump1090_db_stream_spark.operators.unigram import vocab_df

    return vocab_df(spark, _trained_unigram(spark, sf_dir))


def q_unigram_encoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document encode statistics under the trained unigram model
    (operators.unigram.unigram_encoded_stats): the Viterbi DP runs
    once per word TYPE (distinct), broadcast-joins onto the token
    stream, one aggregation to (doc_id, n_words, n_pieces,
    pieces_per_word) — the 100 TB encode shape (never a per-token DP).
    Over-cap and uncoverable word types take the documented
    character-split fallback. pieces_per_word is micro-quantized from
    one exact integer division; the oracle replays training AND the
    encode pass from the raw table."""
    from dump1090_db_stream_spark.operators.unigram import (
        scores_from_rows,
        unigram_encoded_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_encoded_stats(
        docs, scores_from_rows(_trained_unigram(spark, sf_dir)))


def q_drift_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed per-source drift dashboard (r13 verdict ask #8,
    stretch): PSI + KS + JSD + Page-Hinkley over the SAME month-split
    snapshot pair / value series the standalone contracts use, unified
    to one (metric, key, statistic, drifted) relation — pinning
    CROSS-METRIC consistency (same inputs, four detectors, one
    hash-checked relation) the way pipeline_capstone pins cross-stage
    row flow. Each arm is the already-oracled operator; the oracle is
    the union of the four replays under the same projection, so a
    regression in any one metric breaks this hash too."""
    from dump1090_db_stream_spark.operators.drift import (
        js_divergence_drift,
        ks_drift,
        page_hinkley_drift,
    )
    from dump1090_db_stream_spark.operators.profiling import psi_drift

    from dump1090_db_stream_spark.cache import track

    # one materialization of the snapshot pair (r14): the four arms
    # otherwise each re-scan events and re-apply the cutoff — 5 scans
    # + repeated timestamp conversion for one dashboard. Narrow rows,
    # released by the caller's release_tracked().
    ev = track(_events(spark, sf_dir))
    ref = track(ev.filter(F.col("ts") < "2024-01-16"))
    cur = track(ev.filter(F.col("ts") >= "2024-01-16"))
    cutoff = F.col("ts") < F.lit("2024-01-16").cast("timestamp")

    psi = psi_drift(ref, cur, "value", keys=["event_type"],
                    n_bins=10).select(
        F.lit("psi").alias("metric"),
        F.col("event_type").alias("key"),
        F.col("psi").alias("statistic"),
        (F.col("verdict") != "stable").alias("drifted"))
    ks = ks_drift(ref, cur, "value", keys=["event_type"]).select(
        F.lit("ks").alias("metric"),
        F.col("event_type").alias("key"),
        F.col("ks").alias("statistic"),
        "drifted")
    jsd = js_divergence_drift(
        ev.filter(cutoff), ev.filter(~cutoff), "event_type").select(
        F.lit("jsd").alias("metric"),
        F.lit(None).cast("string").alias("key"),
        F.col("jsd").alias("statistic"),
        "drifted")
    ph = page_hinkley_drift(ev, "value", keys=["event_type"],
                            bucket_seconds=3600, delta=0.05,
                            lam=1.0).select(
        F.lit("ph").alias("metric"),
        F.col("event_type").alias("key"),
        F.col("ph_stat").alias("statistic"),
        "drifted")
    return psi.unionByName(ks).unionByName(jsd).unionByName(ph)
