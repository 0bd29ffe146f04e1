#!/usr/bin/env python3
"""The adsb-spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--smoke]

Run from the root of a checkout. Workloads: live_feed and
analyst_queries (NOTES.md says what each one stresses and why). Spark
runs in-process at ``local[nproc]``; everything the run writes stays
under ``perfbench/_work``.

With ``--trace 0`` the run measures the end-to-end metrics. With
``--trace 1`` it runs the timed phase three times: untraced for a
quarter of the run length; for the full length in a fresh session with
Spark's event log, a streaming listener, job groups and spans; then
untraced again for a quarter. It reports the per-layer metrics of the
traced phase, the tracing overhead (its median latency against the
mean of the two untraced ones) and CLI backfills of the workload's probe
input at ``local[nproc]`` and, as the single-threaded baseline,
``local[1]``.

Output: one line per metric (``workload/name = value unit``), then, as
the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--smoke`` runs the workload at a tiny
size for a quick end-to-end check.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import (  # noqa: E402
    REPO,
    WORK_ROOT,
    Session,
    Tracer,
    cpu_count,
    cpu_ticks,
    dir_stats,
    exec_counters,
    peak_rss_mb,
    prepare_env,
    quantile,
    read_eventlog,
    rmtree,
    steal_share,
)

WORKLOADS = ("live_feed", "analyst_queries")
END_TO_END = ("setup_s", "throughput_per_s", "latency_p50_s",
              "latency_p90_s")
# Per-layer metrics every traced run reports (BENCHMARK.json per_layer);
# the workload-specific ones are printed and written to the detail file.
PER_LAYER = (
    "session.start_s", "session.restart_s", "setup.warm_s",
    "parser.lines_per_s", "parser.lines_per_s_1core",
    "pipeline.backfill_lines_per_s", "parser.accepted",
    "parser.rejected_malformed_width", "parser.rejected_not_null",
    "sinks.rows_written", "sinks.files_written", "sinks.bytes_written",
    "sinks.rows_per_line_accepted", "sinks.backfill_rows_per_line_accepted",
    "sinks.store_build_s",
    "sinks.store_files", "sinks.store_bytes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s",
    "exec.shuffle_write_bytes", "exec.spill_bytes",
    "process.peak_rss_mb", "trace.overhead_share",
)
# Environment the CLI would read as a second source or sink.
_CLI_ENV = ("DUMP1090HOST", "DUMP1090PORT", "PGDATABASE", "PGHOST",
            "PGPORT", "PGUSER", "PGPASSWORD", "PGSCHEMA", "PGTABLE")


def unit(name: str) -> str:
    if "_per_s" in name:
        return "1/s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith(("_share", "_per_line_accepted")):
        return "ratio"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny input sizes, for a quick end-to-end check")
    return ap.parse_args(argv)


def layer_probes(run, wl, phase, layer: dict, problems: list[str]) -> None:
    """Per-layer probes of the traced run over the workload's probe input
    (the first ``probe_lines`` lines of its feed): parser throughput and
    exact reject counts, the sink's output and a timed store build."""
    from dump1090_db_stream_spark.functions.parser import (
        REJECT_NOT_NULL,
        REJECT_WIDTH,
        parse_sbs1,
        parse_sbs1_tagged,
    )
    from workloads import build_store

    spark = run.session.spark
    src = str(wl.feed_dir)
    n_lines = wl.probe_lines

    # The parser is warm: the workload has run it (live_feed) or built a
    # store with it (analyst_queries).
    with run.tracer.span("parser.noop"):
        t0 = time.time()
        (parse_sbs1(spark.read.text(src)).write.format("noop")
         .mode("overwrite").save())
        layer["parser.lines_per_s"] = n_lines / (time.time() - t0)
    counts = dict(parse_sbs1_tagged(spark.read.text(src))
                  .groupBy("reject_reason").count().collect())
    kinds = Counter(wl.feed.kinds[:n_lines])
    layer["parser.accepted"] = float(counts.get(None, 0))
    layer["parser.rejected_malformed_width"] = float(counts.get(REJECT_WIDTH, 0))
    layer["parser.rejected_not_null"] = float(counts.get(REJECT_NOT_NULL, 0))
    want = (wl.accepted_in(n_lines),
            kinds["nonmsg"] + kinds["malformed"], kinds["notnull"])
    got = (layer["parser.accepted"], layer["parser.rejected_malformed_width"],
           layer["parser.rejected_not_null"])
    if tuple(map(int, got)) != want:
        problems.append(f"parser counts {got} differ from the feed's {want}")

    rows = spark.read.parquet(str(phase.store)).count()
    files, nbytes = dir_stats(phase.store)
    layer["sinks.rows_written"] = float(rows)
    layer["sinks.files_written"] = float(files)
    layer["sinks.bytes_written"] = float(nbytes)
    layer["sinks.rows_per_line_accepted"] = (
        rows / max(1, wl.accepted_in(phase.store_lines)))
    store = run.work / "probe-store"
    with run.tracer.span("sinks.store_build"):
        t0 = time.time()
        build_store(spark, wl.feed_dir, store)
        layer["sinks.store_build_s"] = time.time() - t0
    files, nbytes = dir_stats(store)
    layer["sinks.store_files"] = float(files)
    layer["sinks.store_bytes"] = float(nbytes)


def backfills(run, wl, layer: dict) -> None:
    """CLI ``--available-now`` backfills of the workload's probe input
    through the real streaming path, at ``local[nproc]`` and then at
    ``local[1]`` as the single-threaded baseline (the JVM is warm by
    now)."""
    from workloads import cli_backfill

    n, out = wl.probe_lines, run.work / "backfill"
    ok, dt = cli_backfill(wl.feed_dir, out)
    layer["pipeline.backfill_lines_per_s"] = n / dt if ok else 0.0
    rows = run.session.spark.read.parquet(str(out / "store")).count()
    layer["sinks.backfill_rows_per_line_accepted"] = (
        rows / wl.accepted_in(n))
    run.session.restart(master="local[1]")
    ok, dt = cli_backfill(wl.feed_dir, run.work / "backfill")
    layer["parser.lines_per_s_1core"] = n / dt if ok else 0.0


def exec_metrics(run, workload: str, phase, layer: dict, detail: dict
                 ) -> None:
    """``exec.*`` per operation of the timed phase, from the event log
    (read after the session stopped, so it is complete)."""
    jobs = [j for j in read_eventlog(run.session.eventlog_dir)
            if phase.window[0] <= j["time"] <= phase.window[1]]
    if workload == "analyst_queries":
        jobs = [j for j in jobs if j["group"].startswith("perfbench:")]
        by_kind = {}
        for j in jobs:
            by_kind.setdefault(j["group"].split(":", 1)[1], []).append(j)
        n_by_kind = phase.detail["queries_by_kind"]
        detail["exec_by_query"] = {
            k: exec_counters(v, n_by_kind.get(k, 1))
            for k, v in sorted(by_kind.items())}
        n_ops = phase.attempted
    else:
        n_ops = max(1, int(layer.get("pipeline.batches", 1)))
    layer.update(exec_counters(jobs, n_ops))


def set_up(run, wl, layer: dict) -> float:
    """The cold set-up: the session start, which launches the JVM in
    this fresh process, plus the workload's warm pass."""
    t0 = time.time()
    run.session.start()
    layer["session.start_s"] = time.time() - t0
    wl.warm(0)
    return time.time() - t0


def warm_set_ups(run, wl, layer: dict) -> None:
    """Set-up repeated twice in the warm process (a fresh SparkSession in
    the running JVM), for the per-layer split between one-time process
    work and per-session work."""
    times, starts = [], []
    for rep in (1, 2):
        t0 = time.time()
        run.session.restart()
        starts.append(time.time() - t0)
        wl.warm(rep)
        times.append(time.time() - t0)
    layer["session.restart_s"] = median(starts)
    layer["setup.warm_s"] = median(times)


def end_to_end(phase) -> dict[str, float]:
    lat = phase.latencies
    return {"throughput_per_s": phase.throughput_per_s,
            "latency_p50_s": median(lat) if lat else 0.0,
            "latency_p90_s": quantile(lat, 0.9) if lat else 0.0}


def main(argv=None) -> int:
    t_main = time.time()
    args = parse_args(argv)
    if not (REPO / "dump1090_db_stream_spark" / "__init__.py").is_file():
        print("error: run from the root of an adsb-spark checkout "
              "(dump1090_db_stream_spark/ not found)", file=sys.stderr)
        return 2
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    rmtree(work)
    prepare_env(work, cpu_count())
    for var in _CLI_ENV:
        os.environ.pop(var, None)
    sys.path.insert(0, str(REPO))

    import workloads

    session = Session(work)
    run = workloads.Run(seed=args.seed, seconds=args.seconds,
                        smoke=args.smoke, work=work, session=session,
                        tracer=Tracer(False))
    layer: dict[str, float] = {}
    detail: dict = {}
    wall = detail["wall_s"] = {}

    def lap(name):
        wall[name] = time.time() - t_main

    wl = workloads.WORKLOADS[args.workload](run)
    lap("inputs")
    problems: list[str] = []  # of the traced run's layer probes
    try:
        setup_s = set_up(run, wl, layer)
        lap("setup")
        ticks = cpu_ticks()
        # A traced run spends a quarter as long on each untraced phase.
        phase = wl.timed(args.seconds / 4 if args.trace else args.seconds)
        lap("timed")
        detail["steal_share"] = steal_share(ticks, cpu_ticks())
        metrics = {"setup_s": setup_s, **end_to_end(phase)}
        phases = [phase]
        if args.trace:
            # The timed phase again with tracing on: a fresh session with
            # Spark's event log, the streaming listener, job groups and
            # spans; then once more untraced, so that the overhead is
            # judged against untraced phases on both sides of it.
            session.restart(trace=True)
            run.tracer.enabled = True
            wl.after_restart()
            traced_phase = wl.timed(args.seconds)
            layer.update(traced_phase.layer)
            layer_probes(run, wl, traced_phase, layer, problems)
            session.stop()
            exec_metrics(run, args.workload, traced_phase, layer, detail)
            session.start(trace=False)
            run.tracer.enabled = False
            wl.after_restart()
            after_phase = wl.timed(args.seconds / 4)
            after = end_to_end(after_phase)
            warm_set_ups(run, wl, layer)
            backfills(run, wl, layer)
            layer["process.peak_rss_mb"] = peak_rss_mb()
            traced = end_to_end(traced_phase)
            base = (metrics["latency_p50_s"] + after["latency_p50_s"]) / 2
            layer["trace.overhead_share"] = traced["latency_p50_s"] / base - 1
            detail.update(untraced=metrics, traced=traced,
                          untraced_after=after)
            phases += [traced_phase, after_phase]
            phase = traced_phase
            lap("traced")
        detail.update(phase.detail)
    finally:
        wl.close()
        session.shutdown()
    lap("shutdown")

    attempted = wl.warm_ops + sum(ph.attempted for ph in phases)
    failed = wl.warm_failed + sum(ph.failed for ph in phases)
    problems += wl.warm_problems + [p for ph in phases for p in ph.problems]
    failed_share = failed / max(1, attempted)
    shown = dict(layer) if args.trace else {
        **metrics, "failed_share": failed_share,
        "samples": float(len(phase.latencies)),
        "steal_share": detail["steal_share"]}
    for name, value in sorted(shown.items()):
        print(f"{args.workload}/{name} = {value:.6g} {unit(name)}")
    for p in problems:
        print(f"{args.workload}: CHECK FAILED: {p}")
    detail["span_self_s"] = {
        name: run.tracer.self_time(name)
        for name in sorted({s["name"] for s in run.tracer.spans})}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "feed": wl.feed.props,
              "end_to_end": {**metrics, "failed_share": failed_share},
              "per_layer": layer, "detail": detail, "problems": problems,
              "spans": run.tracer.spans}
    out = WORK_ROOT / f"{args.workload}.trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=str))
    rmtree(work)
    names = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else metrics
    print(json.dumps({
        "correct": not problems,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": unit(n)}
                    for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
