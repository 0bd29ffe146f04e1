"""bench.py smoke test: the driver records BENCH_r{N}.json by running
bench.py — a regression there silently costs the round its performance
record, so the suite runs the whole harness in shrunken smoke mode
(sf0.001, 1 run per query, synthetic benches scaled down 100x) and
validates the output contract."""

from __future__ import annotations

import pytest

import json
import os
import subprocess
import sys


@pytest.mark.slow
def test_bench_end_to_end_smoke(tmp_path):
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_BENCH_RUNS": "1",
        "SPARK_GRAFT_BENCH_SYNTH": "100",
        "SPARK_GRAFT_CPUS": "4",
        # reroute the detail mirror: a smoke run must never clobber
        # the committed real-SF BENCH_DETAIL_LAST.json
        "SPARK_GRAFT_DETAIL_OUT": str(tmp_path / "detail.json"),
    })
    proc = subprocess.run(
        [sys.executable, "bench.py"], cwd="/root/repo", env=env,
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    # LAST line: the compact headline record the driver's tail capture
    # must always see (r4's one-line format outgrew the capture window
    # and recorded parsed: null). It must stay bounded: headline metric
    # fields only, no per-run arrays or synthetic-bench detail.
    out = json.loads(lines[-1])
    assert out["metric"] == "headline_queries_total"
    assert out["unit"] == "sec" and out["value"] > 0
    assert set(out["queries"]) == {
        n for n in out["queries"]} and len(out["queries"]) >= 15
    assert all(v >= 0 for v in out["queries"].values())
    assert out["sf"] == 0.001
    assert "queries_runs" not in out and "extended" not in out
    # SECOND-TO-LAST line: the full-detail record (per-run spreads,
    # extended set, synthetic benches) — printed first so truncation
    # can only ever cost detail, never the headline.
    detail = json.loads(lines[-2])
    assert detail["metric"] == "headline_queries_detail"
    assert set(detail["queries_runs"]) >= set(out["queries"])
    assert detail["ingest"]["msgs_per_sec"] > 0
    assert len(detail["ingest"]["runs_sec"]) == 3
    assert detail["ingest"]["sec"] == min(detail["ingest"]["runs_sec"])
    assert detail["skew"]["salted_sec"] > 0
    assert len(detail["extended"]) >= 20
    # r8: the pinned box-speed calibration probe rides every BENCH
    # record (headline drift is read NET of it — BASELINE.md formula)
    assert detail["calibration"]["sec"] > 0
    assert len(detail["calibration"]["runs_sec"]) == 5
    assert detail["calibration"]["workload"] == \
        "lineitem_scan_agg_frozen_r8"
    assert out["calibration_sec"] == detail["calibration"]["sec"]
    # r13: the scheduler-latency probe rides every record too (the
    # second drift axis — sub-second entries adjust by THIS one)
    assert detail["scheduler_calibration"]["sec"] > 0
    assert len(detail["scheduler_calibration"]["runs_sec"]) == 5
    assert detail["scheduler_calibration"]["workload"] == \
        "32_one_task_jobs_frozen_r13"
    assert out["scheduler_sec"] == detail["scheduler_calibration"]["sec"]
    assert out["scheduler_start_sec"] == \
        detail["scheduler_calibration_start"]["sec"]
    # r12: the self-calibration BRACKET — the probe runs before the
    # first timed query too, and the 5 noisiest per-run arrays ride
    # the compact record itself, so a single driver session can
    # adjudicate contention vs regression without a re-run
    assert detail["calibration_start"]["sec"] > 0
    assert out["calibration_start_sec"] == \
        detail["calibration_start"]["sec"]
    assert len(out["noisy_top_runs"]) == 5
    for name, runs in out["noisy_top_runs"].items():
        assert runs == detail["queries_runs"][name]
    # the production-K BPE trainer arm rides every record
    assert detail["bpe_scaling"]["local_k1024_merges"] > 0
    assert detail["bpe_scaling"]["local_k1024_sec"] >= 0
    # r8: continuous-score AUC stress — the plan must never regress to
    # an input-grain single-partition sort
    assert detail["auc_hicard"]["single_partition_input_grain_sorts"] == 0
    assert detail["auc_hicard"]["sec"] > 0
    # r9: grouped AUC under group skew (one dominant group, continuous
    # scores) — neither gate may ever see a funnel in the plan
    assert detail["auc_by_hicard"]["single_partition_input_grain_sorts"] \
        == 0
    assert detail["auc_by_hicard"]["grouped_continuous_funnels"] == 0
    assert detail["auc_by_hicard"]["sec"] > 0
    assert detail["auc_by_hicard"]["dominant_group_share"] == 0.8
    # r9: the same-box ingest A/B is committed and folded in
    assert detail["ingest_ab"]["head_over_r5"] > 0
    assert detail["ingest_ab"]["measured_code_identical"] is True
    # r10: record-survival gates for the driver's ~2000-char stdout
    # tail (BENCH_r09 lost the whole extended set to the inlined
    # ingest-A/B verdict prose):
    # (a) the folded A/B record carries numbers only — the prose
    #     stays in the committed scripts/ artifact
    assert "verdict" not in detail["ingest_ab"]
    assert detail["ingest_ab"]["measured_path_unchanged_vs_head"] \
        in (True, False, None)
    # (b) detail keys end with the extended set so the tail window
    #     cuts per-run arrays first, extended timings last
    assert list(detail)[-3:] == ["extended", "extended_total", "sf"]
    # (c) the compact line is bounded (headline map + scalars only)
    #     and carries the extended TOTAL itself
    assert out["extended_total"] == detail["extended_total"]
    assert len(lines[-1]) < 1500
    # (d) the full detail record is mirrored to a file (committed as
    #     BENCH_DETAIL_LAST.json on real runs; rerouted here),
    #     immune to stdout truncation entirely
    with open(tmp_path / "detail.json") as fh:
        mirrored = json.load(fh)
    assert mirrored["metric"] == "headline_queries_detail"
    assert mirrored["extended_total"] == detail["extended_total"]


def test_bench_drift_comparator_flags_adjusted_movers():
    """scripts/bench_drift.py (r10 verdict ask #4): per-entry
    drift-adjusted ratios over the extended maps — a uniformly slower
    box flags nothing, a real per-entry regression does, and
    registry-membership changes are listed, not conflated."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from bench_drift import compare

    prev = {"calibration": {"sec": 0.10},
            "extended": {"steady": 1.0, "regressed": 2.0, "gone": 1.0},
            "extended_total": 4.0}
    cur = {"calibration": {"sec": 0.20},   # box 2x slower across the board
           "extended": {"steady": 2.0, "regressed": 7.0, "new": 0.5},
           "extended_total": 9.5}
    r = compare(prev, cur)
    assert "steady" not in r["movers"]          # pure box drift
    assert r["movers"]["regressed"]["adj_ratio"] == 1.75
    assert r["only_prev"] == ["gone"]
    assert r["only_cur"] == ["new"]
    assert r["n_shared"] == 2
