"""The benchmark's workloads.

A workload generates its input from the seed in its constructor;
``warm(rep)`` is the part of set-up that follows a session start
(input preparation the program does, one warm pass of each
operation); ``timed()`` runs the timed phase and checks the program's
outputs untimed. Operations of the warm passes count as attempted,
and as failed if they fail, like the timed ones. ``timed()`` can run
more than once in a run, which the traced run uses to measure with
tracing off and then on. NOTES.md says why each workload exists and
which layers it stresses.
"""

from __future__ import annotations

import itertools
import random
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import feedgen
from checks import IngestChecker, check_queries
from harness import (
    Session,
    Tracer,
    checkpoint_batches,
    make_progress_listener,
    parse_iso,
    pipeline_metrics,
    quantile,
    rmtree,
)


@dataclass
class Run:
    seed: int
    seconds: float
    smoke: bool
    work: Path
    session: Session
    tracer: Tracer


@dataclass
class Phase:
    """What one timed phase measured and found."""
    throughput_per_s: float
    latencies: list[float]
    attempted: int
    failed: int
    problems: list[str]
    window: tuple[float, float]
    store: Path
    store_lines: int  # input lines the program wrote ``store`` from
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def _cli(argv: list[str]) -> int | None:
    """The CLI's exit code, or None if it raised."""
    from dump1090_db_stream_spark.__main__ import main

    try:
        return main(argv)
    except Exception as e:  # noqa: BLE001 — a failed run is a measured failure
        print(f"CLI run failed: {e!r}", file=sys.stderr, flush=True)
        return None


def _cli_argv(src: Path, out: Path, available_now: bool) -> list[str]:
    # One attempt: the CLI's default of 10 attempts 5 s apart would turn
    # a failure into a run longer than the benchmark may take.
    argv = ["--file-source", str(src), "--parquet-store", str(out / "store"),
            "--checkpoint", str(out / "ck"), "--connect-attempt-limit", "1"]
    return argv + (["--available-now"] if available_now else [])


def cli_backfill(src: Path, out: Path) -> tuple[bool, float]:
    """One ``--available-now`` CLI run from ``src`` into a fresh store
    under ``out``: (clean exit, wall seconds)."""
    rmtree(out)
    t0 = time.time()
    rc = _cli(_cli_argv(src, out, available_now=True))
    return rc == 0, time.time() - t0


def _listen(run: Run) -> list[dict]:
    """Streaming progress records, collected only while tracing."""
    progress: list[dict] = []
    if run.tracer.enabled:
        run.session.spark.streams.addListener(make_progress_listener(progress))
    return progress


def _files_per_batch(file_batch: dict[str, int]) -> float:
    per_batch: dict[int, int] = {}
    for b in file_batch.values():
        per_batch[b] = per_batch.get(b, 0) + 1
    return median(list(per_batch.values())) if per_batch else 0.0


class Workload:
    def __init__(self, run: Run, n_lines: int, span_s: float):
        self.run = run
        self.span_s = span_s
        self.feed = feedgen.generate(n_lines, span_s, run.seed)
        # The layer probes' input, written by the subclass: the first
        # ``probe_lines`` lines of the feed.
        self.feed_dir = run.work / "feed"
        self.probe_lines = n_lines
        self.checker = IngestChecker(
            self.feed.lines,
            [k in feedgen.ACCEPTED_KINDS for k in self.feed.kinds])
        self.warm_ops = self.warm_failed = 0
        self.warm_problems: list[str] = []

    def accepted_in(self, n_lines: int) -> int:
        """Accepted lines among the feed's first ``n_lines``."""
        return sum(k in feedgen.ACCEPTED_KINDS
                   for k in self.feed.kinds[:n_lines])

    def warm(self, rep: int) -> None:
        raise NotImplementedError

    def after_restart(self) -> None:
        """Re-create session-scoped state after a session restart."""

    def timed(self, seconds: float) -> Phase:
        raise NotImplementedError

    def close(self) -> None:
        self.checker.close()


# --------------------------------------------------------------- live feed

LIVE_RATE = 20_000      # lines per second offered
LIVE_FILES_PER_S = 4    # files renamed into the source per second
LIVE_WARMUP_S = 8.0     # start of the schedule left out of the samples
LIVE_WARM_BATCHES = 3   # one-file micro-batches of the set-up's warm pass
LIVE_PROBE_LINES = 200_000  # feed lines the traced run's layer probes read


def _wait(pred, timeout: float, step: float = 0.1) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(step)
    return pred()


class _StreamingCli:
    """The CLI streaming from ``base/src`` (no ``--available-now``) in a
    thread, for the duration of a ``with`` block."""

    def __init__(self, spark, base: Path):
        self.spark = spark
        self.src, out = base / "src", base / "out"
        self.store, self.ck = out / "store", out / "ck" / "store"
        self.src.mkdir(parents=True)
        self.thread = threading.Thread(
            target=_cli, args=(_cli_argv(self.src, out, available_now=False),),
            name="cli", daemon=True)

    def __enter__(self):
        self.thread.start()
        if not _wait(lambda: self.spark.streams.active, 60):
            raise RuntimeError("streaming query did not start")
        return self

    def committed(self, n_files: int) -> bool:
        fb, commits = checkpoint_batches(self.ck)
        return (len(fb) == n_files
                and all(b in commits for b in fb.values()))

    def __exit__(self, *exc):
        for q in self.spark.streams.active:
            q.stop()
        self.thread.join(60)
        if self.thread.is_alive():
            raise RuntimeError("CLI did not return after its query stopped")


class LiveFeed(Workload):
    """Open loop: the CLI streams from a file source while the generator
    renames pre-rendered files into it on a fixed schedule."""

    def __init__(self, run: Run):
        self.fps = LIVE_FILES_PER_S
        self.warmup = 1.0 if run.smoke else LIVE_WARMUP_S
        self.per_file = (2_000 if run.smoke else LIVE_RATE) // self.fps
        self.n_files = int(round((self.warmup + run.seconds) * self.fps))
        super().__init__(run, self.per_file * self.n_files,
                         self.warmup + run.seconds)
        self.phases = 0
        self.probe_lines = min(len(self.feed.lines), LIVE_PROBE_LINES)
        feedgen.write_files(self.feed.lines[:self.probe_lines], self.feed_dir,
                            self.probe_lines // self.per_file, stem="live")

    def warm(self, rep):
        """Closed loop of one-file micro-batches: the next file is renamed
        into the source once the previous batch has committed."""
        base = self.run.work / f"warm{rep}"
        paths = feedgen.write_files(
            self.feed.lines[:self.per_file * LIVE_WARM_BATCHES],
            base / "stage", LIVE_WARM_BATCHES, stem="warm")
        with _StreamingCli(self.run.session.spark, base) as cli:
            for k, p in enumerate(paths):
                self.warm_ops += self.per_file  # messages, as in timed()
                p.rename(cli.src / p.name)
                if not _wait(lambda: cli.committed(k + 1), 30, 0.05):
                    self.warm_failed += self.per_file
                    self.warm_problems.append(f"warm batch {k} timed out")
                    break
        rmtree(base)

    def timed(self, seconds: float) -> Phase:
        run, fps, per_file = self.run, self.fps, self.per_file
        self.phases += 1
        base = run.work / f"live{self.phases}"
        n_files = int(round((self.warmup + seconds) * fps))
        paths = feedgen.write_files(self.feed.lines[:per_file * n_files],
                                    base / "stage", n_files, stem="live")
        progress = _listen(run)
        with _StreamingCli(run.session.spark, base) as cli:
            t0 = time.time() + 0.5
            due = [t0 + (k + 1) / fps for k in range(n_files)]
            released = []
            with run.tracer.span("gen.schedule"):
                for k, p in enumerate(paths):
                    pause = due[k] - time.time()
                    if pause > 0:
                        time.sleep(pause)
                    p.rename(cli.src / p.name)
                    released.append(time.time())
            with run.tracer.span("gen.drain"):
                _wait(lambda: cli.committed(n_files), 30, 0.2)

        # Message j of file k is created at an even step inside the file's
        # interval, which ends when the file is due; its latency runs to
        # the commit of the batch that read the file.
        file_batch, commits = checkpoint_batches(cli.ck)
        w0, w1 = t0 + self.warmup, t0 + self.warmup + seconds
        step = 1.0 / (fps * per_file)
        lat, attempted, failed, lines_in, last_commit = [], 0, 0, 0, w0
        for k, p in enumerate(paths):
            created0 = due[k] - 1.0 / fps
            if not (w0 <= created0 < w1):
                continue
            attempted += per_file
            b = file_batch.get(p.name)
            if b is None or b not in commits:
                failed += per_file
                continue
            c = commits[b]
            last_commit = max(last_commit, c)
            lines_in += per_file
            lat.extend(c - (created0 + (j + 0.5) * step)
                       for j in range(per_file))
        problems = []
        if failed:
            problems.append(f"{failed} messages in files never committed")
        stored, bad = self.checker.check(cli.store, per_file * n_files)
        if bad:
            problems += bad
            failed = attempted
        layer = {"gen.late_max_s": max(r - d for r, d in zip(released, due)),
                 "sources.files_per_batch_p50": _files_per_batch(file_batch)}
        if progress:
            layer.update(_source_metrics(progress, paths, released,
                                         file_batch, (w0, w1)))
            layer.update(pipeline_metrics(
                [p for p in progress
                 if w0 <= parse_iso(p["timestamp"]) < w1], (w0, w1)))
        detail = {"stored_rows": stored, "batches": len(commits),
                  "batch_log": [
                      {"batch": p["batchId"], "rows": p["numInputRows"],
                       "start": parse_iso(p["timestamp"]) - t0,
                       "ms": p["durationMs"]} for p in progress]}
        return Phase(
            throughput_per_s=lines_in / max(1e-9, last_commit - w0),
            latencies=lat, attempted=attempted, failed=failed,
            problems=problems, window=(w0, w1), store=cli.store,
            store_lines=per_file * n_files,
            layer=layer, detail=detail)


def _source_metrics(progress, paths, released, file_batch, window):
    """Backlog and lag at the file source, from batch start times."""
    start = {p["batchId"]: parse_iso(p["timestamp"]) for p in progress}
    backlog = []
    for b, ts in start.items():
        if window[0] <= ts < window[1]:
            backlog.append(sum(
                1 for p, r in zip(paths, released)
                if r < ts and file_batch.get(p.name, b) >= b))
    lags = [start[file_batch[p.name]] - r for p, r in zip(paths, released)
            if window[0] <= r < window[1] and p.name in file_batch
            and file_batch[p.name] in start]
    return {"sources.backlog_files_max": float(max(backlog, default=0)),
            "sources.lag_s_p90": quantile(lags, 0.9) if lags else 0.0}


# --------------------------------------------------------- analyst queries

# The mix, as the number of each query in a block of 25: each block runs
# in a seeded order, so every run has the same composition. The lookups
# hold the median, the views and track_lines the 90th percentile.
MIX = {
    "callsign_lookup": 7,
    "location_trace": 8,
    "time_range": 2,
    "callsigns": 1,
    "locations": 1,
    "flights": 4,
    "track_lines": 2,
}
_ADHOC = ("callsign_lookup", "location_trace", "time_range", "track_lines")
ANALYST_LINES = 100_000  # lines of the store built in set-up
ANALYST_SPAN_S = 3600.0  # event-time span of the store
ANALYST_WARMUP_S = 7.0   # queries run before the timed window, not counted


def build_store(spark, src: Path, store: Path) -> None:
    """The analyst store: parse_sbs1 -> write_parquet_store, with
    parsed_time taken from the wire's generated date and time so the
    store is the same on every run."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.functions.parser import parse_sbs1
    from dump1090_db_stream_spark.sinks.writers import write_parquet_store

    msgs = parse_sbs1(spark.read.text(str(src))).withColumn(
        "parsed_time", F.to_timestamp(F.concat(
            F.date_format("generated_date", "yyyy-MM-dd"), F.lit(" "),
            F.col("generated_time"))))
    write_parquet_store(msgs, str(store), mode="overwrite")


def _query(spark, kind: str, param):
    from dump1090_db_stream_spark.operators import adhoc

    if kind == "callsign_lookup":
        return adhoc.callsign_lookup(spark.table("callsigns"), param,
                                     limit=None)
    if kind == "location_trace":
        return adhoc.location_trace(spark.table("locations"), param,
                                    limit=None)
    if kind == "time_range":
        lo, hi = param
        return spark.sql(
            "SELECT * FROM adsb_messages WHERE parsed_time BETWEEN "
            f"TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'")
    if kind == "track_lines":
        return adhoc.track_lines(spark.table("locations"))
    return spark.table(kind)


class AnalystQueries(Workload):
    """Closed loop, one client, over a store built in set-up."""

    def __init__(self, run: Run):
        super().__init__(run, 3_000 if run.smoke else ANALYST_LINES,
                         ANALYST_SPAN_S)
        feedgen.write_files(self.feed.lines, self.feed_dir, 4)
        accepted = [ln.split(",") for ln in self.feed.accepted()]
        self.prefixes = sorted({f[10][:4] for f in accepted if f[1] == "1"})
        self.hexes = sorted({f[4] for f in accepted if f[1] == "3"})
        self.store = run.work / "store0"
        self.builds: list[float] = []
        # The set-up's warm pass: one query of each kind (a block holds
        # every kind).
        self.warm_pass = list(dict(itertools.islice(
            self._mix(0), sum(MIX.values()))).items())

    def _mix(self, salt: int):
        """An endless seeded sequence of (kind, param), block by block."""
        from datetime import timedelta

        rng = random.Random(self.run.seed * 7919 + salt)
        block = [kind for kind, n in MIX.items() for _ in range(n)]
        span_min = max(1, int(self.span_s // 60) - 2)
        while True:
            rng.shuffle(block)
            for kind in block:
                if kind == "callsign_lookup":
                    yield kind, rng.choice(self.prefixes)
                elif kind == "location_trace":
                    yield kind, rng.choice(self.hexes)
                elif kind == "time_range":
                    lo = feedgen.START + timedelta(
                        minutes=rng.randrange(span_min))
                    yield kind, (str(lo), str(lo + timedelta(minutes=2)))
                else:
                    yield kind, None

    def _warm_queries(self, ops) -> None:
        spark = self.run.session.spark
        for kind, param in ops:
            self.warm_ops += 1
            try:
                _query(spark, kind, param).toArrow()
            except Exception as e:  # noqa: BLE001 — a failed query is measured
                self.warm_failed += 1
                self.warm_problems.append(f"warm {kind}({param}) raised {e!r}")

    def warm(self, rep):
        spark = self.run.session.spark
        rmtree(self.store)
        self.store = self.run.work / f"store{rep}"
        t0 = time.time()
        with self.run.tracer.span("sinks.store_build"):
            build_store(spark, self.feed_dir, self.store)
        self.builds.append(time.time() - t0)
        self.after_restart()

    def after_restart(self):
        from dump1090_db_stream_spark.operators.views import register_views
        from dump1090_db_stream_spark.sinks.writers import read_parquet_store

        spark = self.run.session.spark
        register_views(spark, read_parquet_store(spark, str(self.store)))
        self._warm_queries(self.warm_pass)

    def timed(self, seconds: float) -> Phase:
        run = self.run
        spark = run.session.spark
        results: dict[tuple, object] = {}
        problems: list[str] = []
        lat_by_kind: dict[str, list[float]] = {k: [] for k in MIX}
        lat, failed, raised = [], 0, 0
        warm_end = time.time() + (0.5 if run.smoke else ANALYST_WARMUP_S)
        self._warm_queries(itertools.takewhile(
            lambda _: time.time() < warm_end, self._mix(1)))
        ops = self._mix(2)
        t_start = time.time()
        while time.time() - t_start < seconds or not (lat or raised):
            kind, param = next(ops)
            t0 = time.time()
            try:
                with run.tracer.span(f"query.{kind}"), \
                        run.session.job_group(f"perfbench:{kind}"):
                    tbl = _query(spark, kind, param).toArrow()
            except Exception as e:  # noqa: BLE001 — a failed query is measured
                raised += 1
                problems.append(f"{kind}({param}) raised {e!r}")
                continue
            dt = time.time() - t0
            lat.append(dt)
            lat_by_kind[kind].append(dt)
            first = results.setdefault((kind, param), tbl)
            if first.num_rows != tbl.num_rows:
                failed += 1
                problems.append(f"{kind}({param}) row count changed")
        t_end = time.time()
        attempted, failed = len(lat) + raised, failed + raised
        bad = check_queries(self.store, results)
        if bad:
            problems += bad
            bad_kinds = {b.split("(", 1)[0] for b in bad}
            failed += sum(len(lat_by_kind[k]) for k in bad_kinds)
        stored, bad_store = self.checker.check(self.store,
                                               len(self.feed.lines))
        if bad_store:
            problems += bad_store
            failed = attempted
        layer = {}
        for kind, vals in lat_by_kind.items():
            if vals:
                group = "adhoc" if kind in _ADHOC else "views"
                layer[f"{group}.{kind}_s_p50"] = median(vals)
        return Phase(
            throughput_per_s=len(lat) / (t_end - t_start), latencies=lat,
            attempted=attempted, failed=min(failed, attempted),
            problems=problems, window=(t_start, t_end), store=self.store,
            store_lines=len(self.feed.lines),
            layer=layer,
            detail={"stored_rows": stored, "store_build_s": self.builds,
                    "queries_by_kind": {k: len(v) for k, v in
                                        lat_by_kind.items()}})


WORKLOADS = {
    "live_feed": LiveFeed,
    "analyst_queries": AnalystQueries,
}
