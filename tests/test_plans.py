"""Physical-plan property tests: the scale contract.

These assert the plan shapes that make the operators viable at 100 TB —
pushdown reaching parquet, broadcast for small dims, no cartesian
products, no Python eval in native paths, bounded shuffle counts.
A regression here is a performance bug even if results stay correct.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def read_schema_cols(plan: str) -> list[str]:
    """Top-level column names of the scan's ReadSchema. Type-aware: a
    naive split(',') breaks on parenthesized types like decimal(10,2)."""
    marker = "ReadSchema: struct<"
    i = plan.find(marker)
    assert i >= 0, plan
    body_start = i + len(marker)
    cols, depth, start = [], 1, body_start
    for j in range(body_start, len(plan)):
        ch = plan[j]
        if ch in "(<":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ">":
            depth -= 1
            if depth == 0:
                if plan[start:j].strip():
                    cols.append(plan[start:j])
                break
        elif ch == "," and depth == 1:
            cols.append(plan[start:j])
            start = j + 1
    return [c.split(":", 1)[0].strip() for c in cols]


def test_read_schema_cols_handles_parenthesized_types():
    plan = ("... ReadSchema: struct<o_orderkey:bigint,"
            "o_totalprice:decimal(10,2),meta:struct<a:int,b:string>,"
            "tags:array<string>> ...")
    assert read_schema_cols(plan) == ["o_orderkey", "o_totalprice",
                                      "meta", "tags"]


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_locations_projection_pushdown(spark, sf):
    plan = plan_of(entrymod.q_locations_projection(spark, sf))
    assert "PushedFilters: [IsNotNull(value)]" in plan
    # column pruning: only the 4 selected columns reach the scan (ts physical
    # type is whatever the driver generated — bigint epoch or timestamp)
    assert read_schema_cols(plan) == ["event_id", "ts", "user_id", "value"]


def test_like_prefix_pushdown(spark, sf):
    plan = plan_of(entrymod.q_like_prefix_filter(spark, sf))
    assert "StringStartsWith(c_mktsegment,AUTO)" in plan


def test_time_range_pushdown(spark, sf):
    plan = plan_of(entrymod.q_time_range_between(spark, sf))
    # (plan toString truncates the PushedFilters list; the >= bound and the
    # <= data filter are both visible)
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "o_orderdate" in plan and "<=" in plan


def test_revenue_join_broadcasts_small_dims(spark, sf):
    plan = plan_of(entrymod.q_revenue_by_nation(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 2  # customer, nation
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_band_join_stays_equi_keyed(spark, sf):
    plan = plan_of(entrymod.q_flights_band_join(spark, sf))
    # equi key on user_id anchors a hash-based join; the time band is a
    # residual condition — never a nested-loop/cartesian plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_pricing_summary_partial_aggregation(spark, sf):
    plan = plan_of(entrymod.q_pricing_summary(spark, sf))
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange") == 1  # single shuffle on group keys


def test_window_single_shuffle(spark, sf):
    plan = plan_of(entrymod.q_window_track_lines(spark, sf))
    # row_number + two leads share one window spec -> one exchange + sort
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_native_queries_have_no_python_eval(registry_sweep):
    for name, rec in registry_sweep.items():
        if name == "multimodal_features":  # documented Pandas-UDF path
            continue
        assert "EvalPython" not in rec["plan"], name


def test_multimodal_prunes_before_python(spark, sf):
    plan = plan_of(entrymod.q_multimodal_features(spark, sf))
    assert "MapInPandas" in plan
    # only doc_id + text reach the Python worker
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_minhash_partial_aggregates(spark, sf):
    plan = plan_of(entrymod.q_minhash_lsh_dups(spark, sf))
    # signature build must partial-aggregate before its shuffle
    assert "partial_min" in plan


def test_ivf_probe_join_is_equi_keyed_broadcast(spark, sf):
    """IVF search: the corpus↔query join must be an equi-join on the
    cluster key with the small query side broadcast — never a nested
    loop over the corpus — and fully JVM-side (no Python eval)."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.similarity import ivf_topk
    from dump1090_db_stream_spark.sources.tables import load_table

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    fixed = [[0.1] * 64, [-0.1] * 64, [0.1, -0.1] * 32, [-0.1, 0.1] * 32]
    df = ivf_topk(emb, queries, dim=64, k=5, n_probes=2, centroids=fixed)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "cluster" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_cosine_pairs_precomputes_norms_once(spark, sf):
    """The norm must be projected BELOW the pair join (computed n times,
    not n^2): the optimized plan joins two projections that already
    carry the norm column."""
    from dump1090_db_stream_spark.operators.similarity import exact_cosine_pairs
    from dump1090_db_stream_spark.sources.tables import load_table

    emb = load_table(spark, sf, "embeddings")
    opt = optimized_of(exact_cosine_pairs(emb, threshold=0.35))
    join_pos = opt.index("Join")
    # both join children contain a SQRT projection (the precomputed norm)
    below = opt[join_pos:]
    assert below.count("SQRT") >= 2


def test_date_partitioned_store_prunes_partitions(spark, tmp_path_factory):
    """The BRIN-index replacement, end to end: write the fact store
    date-partitioned, query a date range, and verify the scan carries
    PartitionFilters (directories outside the range are never opened)."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.sinks.writers import write_parquet_store

    d = str(tmp_path_factory.mktemp("store"))
    rows = [("MSG", 3, f"HEX{i % 3}",
             f"2024-01-{(i % 5) + 1:02d} 12:{i:02d}:00")
            for i in range(50)]
    df = (spark.createDataFrame(
        rows, ["message_type", "transmission_type", "hex_ident", "t"])
        .withColumn("parsed_time", F.to_timestamp("t")).drop("t"))
    write_parquet_store(df, d, mode="overwrite")

    back = spark.read.parquet(d).filter(
        F.col("parsed_date") == "2024-01-02")
    plan = plan_of(back)
    assert "PartitionFilters" in plan and "parsed_date" in plan
    assert back.count() == 10


def test_time_sorted_store_has_tight_file_stats(spark, tmp_path_factory):
    """write_time_sorted: files are single-day, their parquet footer
    ts min/max ranges are non-overlapping within a day, and rows inside
    each file are time-ordered — the three-level pruning layout (BRIN
    upgrade). Verified from the actual parquet metadata, not the plan."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.sinks.writers import write_time_sorted

    d = str(tmp_path_factory.mktemp("sorted_store"))
    rows = [("MSG", 3, f"HEX{i % 7}",
             f"2024-02-{(i % 2) + 1:02d} {i % 24:02d}:{(i * 7) % 60:02d}:00")
            for i in range(500)]
    df = (spark.createDataFrame(
        rows, ["message_type", "transmission_type", "hex_ident", "t"])
        .withColumn("parsed_time", F.to_timestamp("t")).drop("t"))
    write_time_sorted(df, d, mode="overwrite", n_files=6)

    per_day: dict[str, list[tuple]] = {}
    for f in glob.glob(os.path.join(d, "parsed_date=*", "*.parquet")):
        day = f.split("parsed_date=")[1].split(os.sep)[0]
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i
               for i in range(len(md.schema))}["parsed_time"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        per_day.setdefault(day, []).append((min(mins), max(maxs)))
    assert set(per_day) == {"2024-02-01", "2024-02-02"}
    for day, ranges in per_day.items():
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"overlapping file ranges in {day}"

    # and the data still round-trips
    back = spark.read.parquet(d)
    assert back.count() == 500


def test_track_lines_wkt_single_shuffle(spark, sf):
    """WKT track building: ONE exchange (the per-user groupBy); sorting
    happens inside array_sort and string folding is pure Column ops, so
    no second shuffle and no Python stage exist."""
    plan = plan_of(entrymod.q_track_lines_wkt(spark, sf))
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_threshold_quantiles_filters_before_shuffle(spark, sf):
    """The 1/rate sample predicate must run below the (single) group
    exchange — the whole point of the portable sketch tier: the shuffle
    carries sampled rows only."""
    plan = plan_of(entrymod.q_event_value_quantiles(spark, sf))
    assert plan.count("Exchange") == 1
    ex = plan.index("Exchange")
    below = plan[ex:]
    assert "Filter" in below  # sample predicate below the exchange
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_no_query_plans_an_undocumented_cross_product(registry_sweep):
    """Blanket scale guard over EVERY contract query: a CartesianProduct
    or BroadcastNestedLoopJoin anywhere in a plan is a 100 TB
    scale-killer unless the operator is explicitly a documented
    brute-force validator/baseline. Catches future regressions (e.g. a
    join key accidentally dropped) across the whole registry at once."""
    # documented brute-force / non-equi paths (each one's docstring
    # declares the O(n^2) or broadcast-nested-loop contract):
    allowed_bnlj = {
        "cosine_neardup_pairs",   # exact all-pairs validator (a.id < b.id)
        "embedding_topk",         # broadcast query side, non-equi self-guard
        "tfidf_top_terms",        # one-row corpus-size N scalar attach
        "bm25_scores",            # same one-row corpus-stats attach
        "fuzzy_name_matches",     # short-string fallback bucket is
                                  # broadcast-by-contract (operators.fuzzy)
        "bigram_pmi",             # one-row U/B corpus-totals attach
        "doc_unigram_logprob",    # one-row U corpus-total attach
        "embedding_quantized_topk",  # broadcast query side, non-equi
                                     # self-guard (same as embedding_topk)
        "weekly_active_users",    # one-row span (min/max day) attach
        "weekly_active_estimate",  # same one-row span attach, sketch tier
        "logprob_percentile_filter",  # one-row U total + one-row p25
                                      # cutoff attach (both broadcast)
        "idle_rich_customers",    # one-row global-avg-balance scalar
                                  # attach (TPC-H Q22 shape)
        "quartile_stratified_sample",  # one-row quartile-cutoff attach
                                       # (broadcast, same as logprob
                                       # percentile filter)
        "dau_wau_stickiness",     # the trailing-actives one-row span
                                  # attach, twice (DAU + WAU tiers)
        "embedding_pq_topk",      # ADC scan: broadcast query-LUT side
                                  # over the CODES relation (same
                                  # contract as brute_force_topk)
        "temperature_mixture_docs",  # one-row n_min attach feeding
                                     # the per-source rate relation
        "hard_negative_candidates",  # broadcast query side, non-equi
                                     # self-guard (brute-force band
                                     # scan, same as embedding_topk)
        "top_value_parts",        # one-row (total, n_parts) scalar
                                  # attach (TPC-H Q11 shape)
        "doc_bigram_logprob",     # one-row U corpus-total attach
                                  # (same as doc_unigram_logprob)
        "quality_classifier_scores",  # one-row (P, Q) class-totals
                                      # attach onto the <= n_buckets
                                      # weight relation (operators.
                                      # classify.nb_logodds_weights —
                                      # same shape as the tfidf/bm25
                                      # corpus-stats attach)
        "classifier_pareto_sample",   # inherits the same class-totals
                                      # attach (the pareto rule itself
                                      # is a narrow projection)
        "pagerank_neardups",      # edge build reuses the exact
                                  # all-pairs cosine validator
                                  # (a.id < b.id) — at scale feed
                                  # pagerank() LSH pairs instead
        "dsir_weights",           # one-row (T, S) corpus-totals
                                  # attach onto the n_buckets-sized
                                  # dimension (same as bigram_pmi)
        "dsir_auc",               # same dsir one-row attach upstream,
                                  # plus the r8 prefix-sum's one-row
                                  # quantile-bounds attach
        "dsir_auc_by_source",     # same dsir one-row attach upstream
        "dsir_calibration",       # same dsir one-row attach upstream
        "score_normalized",       # r8 prefix-sum one-row bounds +
                                  # grand-total attaches (both
                                  # broadcast, operators.prefix_sum)
        "embedding_standardized",  # one-row moment-ARRAY attach (the
                                   # per-dim mean/std pair)
        "survival_curve",         # one-row observation-window-end
                                  # attach (the censoring anchor)
        # recall harness family: each grades an ANN arm against the
        # brute-force exact top-k, so the plan INHERITS the exact
        # arm's broadcast-query-side band scan (the same adjudicated
        # BNLJ as embedding_topk). A recall harness computes an exact
        # reference over a bounded eval query set by definition — the
        # broadcast side is the query set, never the corpus.
        "ann_recall_ivf",
        "ann_recall_lsh",         # also inherits the LSH arm's
                                  # hyperplane-literal one-row attach
        "ann_recall_ivfpq",
        "ann_recall_int8",        # int8 arm is itself a broadcast
                                  # band scan (same as embedding_topk)
        "ann_recall_pq",          # PQ ADC arm: broadcast query-LUT
                                  # side (same as embedding_pq_topk)
        "source_divergence",      # one-row (N, V, S_all) corpus-
                                  # totals attach onto vocabulary-
                                  # sized relations (same class as
                                  # bigram_pmi / dsir_weights)
        "ks_drift_by_type",       # the POOLED prefix-sum's one-row
                                  # quantile-bounds + bucket-offsets
                                  # attaches (ungrouped
                                  # distributed_prev_counts — same
                                  # class as dsir_auc /
                                  # score_normalized; the grouped
                                  # slice CDF attaches via equi-join)
        "keyness_by_source",      # one-row corpus-total N attach
                                  # onto the vocabulary-sized scored
                                  # relation (same class as
                                  # bigram_pmi / dsir_weights)
        "pipeline_capstone",      # inherits temperature_sample's
                                  # one-row n_min attach feeding the
                                  # per-source rate relation (the
                                  # temperature_mixture_docs entry);
                                  # every other stage joins on doc_id
        "chisq_snapshot_drift",   # ungrouped form: one-row margins
                                  # (n_ref, n_cur, k) attach onto the
                                  # bounded category-cell relation
                                  # (same class as tfidf/bm25)
        "jsd_snapshot_drift",     # same ungrouped one-row margins
                                  # attach as chisq_snapshot_drift
                                  # (identical cells/margins shape)
        "capstone_export",        # inherits pipeline_capstone's
                                  # temperature_sample one-row n_min
                                  # attach (stages shared via
                                  # _capstone_stages); the export adds
                                  # only a hash-repartition + write
        "drift_dashboard",        # inherits jsd_snapshot_drift's
                                  # one-row margins attach (the JSD
                                  # arm of the composed dashboard);
                                  # the PSI/KS/PH arms join on
                                  # event_type
    }
    for name, rec in registry_sweep.items():
        plan = rec["plan"]
        assert "CartesianProduct" not in plan, name
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_sliding_window_partial_aggregates(spark, sf):
    plan = plan_of(entrymod.q_sliding_window_counts(spark, sf))
    # explode-into-windows then map-side-combined hash agg, one exchange
    assert "partial_count" in plan
    assert plan.count("Exchange") <= 2  # agg exchange (+ AQE artifacts)
    assert "CartesianProduct" not in plan


def test_trailing_stats_single_partition_exchange(spark, sf):
    plan = plan_of(entrymod.q_event_trailing_stats(spark, sf))
    # one window over user_id: exactly one hash exchange, RANGE frame
    assert plan.count("hashpartitioning") >= 1
    assert "Window" in plan
    assert "RangeFrame" in plan  # event-time range, not a row frame


def test_quantized_scan_prunes_to_id_and_vector(spark, sf):
    plan = plan_of(entrymod.q_embedding_quantized(spark, sf))
    # the narrow quantization projection must not widen the scan
    assert read_schema_cols(plan) == ["vec_id", "embedding"]
    assert "Exchange" not in plan  # zero-shuffle projection


def test_fuzzy_join_pins_expansion_parallelism(spark, sf):
    plan = plan_of(entrymod.q_fuzzy_name_matches(spark, sf))
    # the self-join inputs carry the user repartition (AQE-exempt), so
    # the bucket-product expansion cannot collapse to one partition
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan \
        or plan.count("hashpartitioning") >= 2
    assert "levenshtein" in plan


def test_merge_upsert_joins_on_id_only(spark, sf):
    plan = plan_of(entrymod.q_corpus_merge(spark, sf))
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "CartesianProduct" not in plan


def test_gap_fill_reduces_before_grid(spark, sf):
    plan = plan_of(entrymod.q_gap_fill_locf(spark, sf))
    # the raw table is bucket-aggregated (map-side partial) BEFORE the
    # grid join/windows; the grid explode runs on aggregate-sized rows
    assert "partial_count" in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert "CartesianProduct" not in plan


def test_value_runs_windows_share_one_exchange(spark, sf):
    plan = plan_of(entrymod.q_value_runs_scd2(spark, sf))
    # lag flag + running sum share the (user_id) exchange; the lead over
    # aggregated runs re-uses the same partitioning -> at most the agg
    # exchange on top (plus AQE reads)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan


def test_histogram_broadcasts_extents(spark, sf):
    plan = plan_of(entrymod.q_value_histograms(spark, sf))
    # the per-key min/max extent relation is the broadcast side; the
    # event relation itself is never exchanged before the join
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan and "partial_max" in plan


def test_trailing_actives_dedups_before_fanout(spark, sf):
    plan = plan_of(entrymod.q_weekly_active_users(spark, sf))
    # the (user, day) dedup must sit BELOW the vote explode so the
    # fan-out multiplies deduped rows only. The dedup aggregate is the
    # one keyed on (_id, _d) — the span aggregate (keys=[]) printing
    # below the Generate must NOT satisfy this
    ex = plan.find("Generate explode")
    assert ex > 0
    assert "HashAggregate(keys=[_id" in plan[ex:]


def test_sketch_trailing_actives_filters_before_shuffle(spark, sf):
    from dump1090_db_stream_spark.operators.sketches import sample_threshold

    plan = plan_of(entrymod.q_weekly_active_estimate(spark, sf))
    # the hash-threshold predicate must sit below the BOTTOM-MOST
    # exchange (printed last in toString): the shuffle carries only
    # sampled hashes. Matching the literal threshold value pins the
    # assertion to THE filter, not any filter
    bottom_ex = plan.rfind("Exchange")
    assert bottom_ex > 0
    assert str(sample_threshold(4)) in plan[bottom_ex:]


def test_time_sorted_store_writes_bloom_filters(spark, tmp_path_factory):
    """bloom_cols adds real parquet bloom filters on the requested
    column only, verified from the JVM footer (bloom offset >= 0).
    parquet-mr's adaptive rule is part of the contract: a fully
    dict-encoded chunk gets NO bloom (its dictionary page already
    answers point lookups exactly), so the test forces dictionary
    fallback on hex_ident — the high-cardinality shape blooms exist
    for — and asserts the dict-encoded sibling column stays bloomless.
    An equality lookup through the store stays correct."""
    import glob
    import os

    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.sinks.writers import write_time_sorted

    d = str(tmp_path_factory.mktemp("bloom_store"))
    rows = [("MSG", 3, f"HEX{i:05d}",
             f"2024-02-01 {i % 24:02d}:{(i * 7) % 60:02d}:00")
            for i in range(500)]
    df = (spark.createDataFrame(
        rows, ["message_type", "transmission_type", "hex_ident", "t"])
        .withColumn("parsed_time", F.to_timestamp("t")).drop("t"))
    write_time_sorted(
        df, d, mode="overwrite", n_files=2,
        bloom_cols={"hex_ident": 512, "message_type": 16},
        # 64-byte dictionary page: the 500-value hex_ident dictionary
        # overflows -> plain encoding -> bloom materializes (at real
        # scale a day of aircraft overflows the default 1 MiB the
        # same way); message_type (1 value) stays dict-encoded
        parquet_options={"parquet.dictionary.page.size": "64"})

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    files = glob.glob(os.path.join(d, "parsed_date=*", "*.parquet"))
    assert len(files) == 2
    for f in files:  # EVERY file must hold the bloom, not just one
        offsets = {}
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile \
            .fromPath(jvm.org.apache.hadoop.fs.Path(f), conf)
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            rg = reader.getRowGroups().get(0)
            for i in range(rg.getColumns().size()):
                col = rg.getColumns().get(i)
                offsets[col.getPath().toDotString()] = \
                    col.getBloomFilterOffset()
        finally:
            reader.close()
        assert offsets["hex_ident"] >= 0, f      # plain-encoded -> bloom
        assert offsets["message_type"] == -1, f  # dict-encoded -> none
        assert offsets["parsed_time"] == -1, f   # never requested

    spark.conf.set("spark.sql.parquet.filterPushdown", "true")
    got = (spark.read.parquet(d)
           .filter(F.col("hex_ident") == "HEX00042").count())
    assert got == 1


def test_top_paths_plans_take_ordered(spark, sf):
    plan = plan_of(entrymod.q_top_journey_paths(spark, sf))
    # top-k must be TakeOrderedAndProject (partial per-partition top-k),
    # never a global sort of all paths
    assert "TakeOrderedAndProject" in plan


def test_late_sole_suppliers_avoids_expand(spark, sf):
    plan = plan_of(entrymod.q_late_sole_suppliers(spark, sf))
    # staged distinctness: the (orderkey, suppkey) pre-aggregate replaces
    # the COUNT(DISTINCT)x2 Expand (x3 input rows before the shuffle)
    assert "Expand" not in plan
    assert "hashpartitioning(l_orderkey" in plan


def test_market_share_broadcasts_every_dimension(spark, sf):
    plan = plan_of(entrymod.q_market_share(spark, sf))
    # customer-side (nation+region), supplier-nation, and part are all
    # broadcast; the only shuffle-worthy pair is lineitem<->orders
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the PROMO filter is pushed to the part scan, not post-join
    # (the literal pushed-predicate form, not just any mention of
    # PushedFilters/p_type — 7 scans print empty PushedFilters lists)
    assert "EqualTo(p_type,PROMO)" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf):
    """Spark's runtime bloom-filter join pruning (on by default since
    3.5, SPARK-32268) is part of this repo's 100 TB story: when a
    selective dimension filter feeds a SHUFFLE join, Catalyst builds a
    bloom filter from the creation side and injects might_contain() on
    the fact side's join key, semi-reducing the fact relation BEFORE
    the exchange. Pin the behavior so a config regression (it silently
    dies if runtime filtering is disabled or thresholds drift) stays
    visible. Thresholds are lowered to fire at test scale — the
    defaults are sized for real clusters (10 MB creation side / 10 GB
    application side)."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )}
    try:
        assert saved["spark.sql.optimizer.runtime.bloomFilter.enabled"] == "true"
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "1KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        orders = (spark.read.parquet(f"{sf}/orders.parquet")
                  .filter(F.col("o_totalprice") > 450000))
        j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderpriority").count())
        plan = plan_of(j)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_semantic_dedup_pair_join_is_cluster_keyed(spark, sf):
    """The SemDeDup pair search must be an equi-join on the cluster id
    (the whole point of clustering first) — never a cartesian product —
    and fully JVM-side."""
    plan = plan_of(entrymod.q_semantic_dedup(spark, sf))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_winnowing_has_no_self_join(spark, sf):
    """Winnowing's window cover is sequence+explode per row; a naive
    formulation self-joins shingles to windows. Assert the plan has NO
    join at all — only explodes and one aggregate."""
    plan = plan_of(entrymod.q_winnow_fingerprints(spark, sf))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# registry-wide single-partition window/sort gate (the r6 verdict's ask):
# an `Exchange SinglePartition` feeding a Sort/Window over INPUT-GRAIN rows
# funnels the whole relation through one task — the auc_score/
# quantile_normalize scale bug class. Sorting an AGGREGATED (vocabulary-
# sized) relation is the documented discipline (weekly_growth, top_paths,
# survival_curve's day grid) and is fine.
# ---------------------------------------------------------------------------

import re as _re

_SPW_AGG_RE = _re.compile(
    r"\b(HashAggregate|SortAggregate|ObjectHashAggregate|Range \()")
_SPW_SCAN_RE = _re.compile(
    r"\b(FileScan|Scan parquet|Scan ExistingRDD|BatchScan)\b")


def _indent_of(line: str) -> int:
    m = _re.search(r"[A-Za-z]", line)
    return m.start() if m else len(line)


def single_partition_window_sites(plan: str) -> list[str]:
    """Sort/Window nodes fed by an `Exchange SinglePartition` whose
    subtree reaches a raw scan BEFORE any aggregate/Range — i.e. global
    sorts at input grain. Returns the offending parent lines (empty =
    plan is scale-safe for this property)."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        my = _indent_of(ln)
        parent = None
        for j in range(i - 1, -1, -1):
            if lines[j].strip() and _indent_of(lines[j]) < my:
                parent = lines[j]
                break
        if parent is None or not _re.search(
                r"\b(Sort|Window|WindowGroupLimit)\b", parent):
            continue  # single-partition agg/limit exchanges are fine
        reduced = False
        for k in range(i + 1, len(lines)):
            if _indent_of(lines[k]) <= my:
                break  # left the exchange's subtree
            if _SPW_AGG_RE.search(lines[k]):
                reduced = True  # grain collapsed before the sort
                break
            if _SPW_SCAN_RE.search(lines[k]):
                break  # raw rows reach the single-partition sort
        if not reduced:
            out.append(parent.strip())
    return out


def test_single_partition_gate_catches_regressed_fixture(spark, sf):
    """The gate itself must detect a deliberately-bad plan (an
    input-grain global row_number) and pass the aggregate-then-rank
    discipline — otherwise the registry sweep below proves nothing."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf}/events.parquet")
    bad = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id")))
    assert single_partition_window_sites(plan_of(bad)), \
        "gate failed to flag an input-grain global window"
    good = (df.groupBy("user_id").count()
            .withColumn("r", F.row_number().over(
                Window.orderBy(F.desc("count"), "user_id"))))
    assert single_partition_window_sites(plan_of(good)) == []


def test_no_query_plans_a_single_partition_input_grain_sort(registry_sweep):
    """Blanket gate over EVERY contract query: no plan may sort
    input-grain rows into one partition. As of r7 the registry is
    clean with NO allowlist — keep it that way; if a new operator
    genuinely needs a documented exception, add it here with the
    docstring pointer, the cross-product gate's discipline."""
    for name, rec in registry_sweep.items():
        bad = single_partition_window_sites(rec["plan"])
        assert bad == [], f"{name}: single-partition input-grain sort: {bad}"


def test_continuous_key_gate_catches_non_reducing_aggregate(spark, sf):
    """Self-test for the r8 hardened gate (r7 verdict ask #4): the
    textual gate trusts ANY aggregate between scan and the global
    window, but an aggregate keyed on a continuous double reduces
    nothing — exactly the pre-r8 auc_score plan. The type-aware
    logical-plan detector must flag that fixture and pass the
    legitimate vocabulary shapes (int/date/string keys, Range)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from plan_audit import (
        continuous_key_global_windows,
    )

    ev = spark.read.parquet(f"{sf}/events.parquet")
    # the blind spot: groupBy(continuous) THEN a global window — the
    # textual gate passes this (there IS an aggregate), the type gate
    # must not
    bad = (ev.groupBy(F.col("value").cast("double").alias("v"))
           .count()
           .withColumn("r", F.row_number().over(Window.orderBy("v"))))
    assert single_partition_window_sites(plan_of(bad)) == [], \
        "precondition: the textual gate is blind to this fixture"
    assert continuous_key_global_windows(bad), \
        "type gate failed to flag a continuous-key aggregate"
    # legitimate vocabulary disciplines stay unflagged
    good_int = (ev.groupBy((F.col("value") * 0).cast("int").alias("b"))
                .count()
                .withColumn("r", F.row_number().over(Window.orderBy("b"))))
    assert continuous_key_global_windows(good_int) == []
    good_date = (ev.groupBy(F.to_date("ts").alias("d")).count()
                 .withColumn("r", F.row_number().over(Window.orderBy("d"))))
    assert continuous_key_global_windows(good_date) == []


def test_no_query_plans_a_global_window_over_continuous_key_aggregate(
        registry_sweep):
    """Registry-wide sweep of the hardened gate: no contract query may
    run a globally-ordered Sort/Window whose first upstream aggregate
    is keyed on a float/double — on continuous data that relation is
    input-sized and still funnels one task (the r7 dsir_auc residual,
    fixed in r8 by the distributed prefix-sum). NO allowlist."""
    for name, rec in registry_sweep.items():
        assert rec["continuous_global"] == [], \
            f"{name}: {rec['continuous_global']}"


def test_grouped_funnel_gate_catches_pre_r9_auc_score_by_shape(spark, sf):
    """Self-test for the r9 gate (r8 verdict ask #4): a PARTITIONED
    ordered window is invisible to both earlier gates, but when its
    partition keys all come from the upstream aggregate's grouping
    keys while a continuous grouping key stays outside the partition
    spec, one partition's grain is per-distinct-continuous-value —
    the pre-r9 auc_score_by / quantile_normalize per-group funnel.
    The fixed operators pass STRUCTURALLY (their cumulative windows
    partition by an injected bucket key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.evaluation import auc_score_by
    from plan_audit import (
        continuous_key_global_windows,
        grouped_continuous_window_funnels,
    )

    ev = spark.read.parquet(f"{sf}/events.parquet")
    base = ev.select(F.col("event_type").alias("g"),
                     F.col("value").cast("double").alias("s"))
    per = base.groupBy("g", "s").count()
    # the pre-r9 shape: per-group cumulative count over distinct
    # (group, continuous) — both earlier gates are blind to it
    pre_fix = per.withColumn(
        "prev", F.coalesce(F.sum("count").over(
            Window.partitionBy("g").orderBy("s")
            .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    assert single_partition_window_sites(plan_of(pre_fix)) == [], \
        "precondition: the textual gate is blind to this fixture"
    assert continuous_key_global_windows(pre_fix) == [], \
        "precondition: the unpartitioned-window gate is blind too"
    assert grouped_continuous_window_funnels(pre_fix), \
        "grouped gate failed to flag the pre-r9 per-group funnel"
    # the r9 fix passes structurally, not via an allowlist
    fixed = auc_score_by(ev.withColumn("y", F.col("value") > 50),
                         "value", "y", "event_type")
    assert grouped_continuous_window_funnels(fixed) == []
    # per-tie-key windows (continuous key IN the partition spec)
    # spread partitions rather than filling one — must stay clean
    tie = per.withColumn("rn", F.row_number().over(
        Window.partitionBy("g", "s").orderBy("count")))
    assert grouped_continuous_window_funnels(tie) == []
    # vocabulary grids (discrete non-partition keys) stay clean
    voc = (ev.groupBy("event_type", F.month("ts").alias("m")).count()
           .withColumn("rn", F.row_number().over(
               Window.partitionBy("event_type").orderBy("m"))))
    assert grouped_continuous_window_funnels(voc) == []


def test_no_query_plans_a_grouped_continuous_window_funnel(registry_sweep):
    """Registry-wide sweep of the r9 gate: no contract query may run a
    partitioned ordered window whose per-partition grain is
    per-distinct-continuous-value (a dominant group funnels one task
    while the group vocabulary stays fixed as the corpus grows). NO
    allowlist — auc_score_by and quantile_normalize were rewired onto
    the grouped prefix-sum to make this sweep pass structurally."""
    for name, rec in registry_sweep.items():
        assert rec["grouped_funnels"] == [], \
            f"{name}: {rec['grouped_funnels']}"
